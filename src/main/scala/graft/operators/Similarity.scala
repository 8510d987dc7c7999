package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._
import graft.sources.Tables

/** Section C (part 2) of SURVEY §2: similarity search over the `embeddings`
  * table (vec_id, embedding array<float>[64], label).
  *
  * Scale design (100 TB): the query set is small and is BROADCAST against the
  * corpus — one narrow pass, no corpus shuffle; top-k per query runs through
  * the custom TopKPerKey physical operator (per-partition bounded heaps →
  * shuffle at most k survivors per (query, partition) — a window would ship
  * each query's FULL scored scan to one task and sort it there), then a rank
  * window over the <=k survivors assigns positions. Candidate volume is
  * further cut by LSH bucketing in the ANN variants (only same-signature
  * buckets join). Ranking ties break on rounded score then vec_id so results
  * are deterministic across engines and runs.
  */
object Similarity {

  val NumQueries = 20
  val TopK = 5

  /** Multi-table LSH (OR-amplification): `NumTables` independent hash
    * tables of `PlanesPerTable` hyperplanes each; a pair is a candidate if
    * it collides in ANY table. One signature expression computes all
    * NumTables*PlanesPerTable plane signs in a single pass; table t's
    * bucket is bits [t*PlanesPerTable, (t+1)*PlanesPerTable). At larger
    * corpora, PlanesPerTable should grow ~log2(N / targetBucketSize) so
    * buckets stay bounded; 4 bits/table is sized for the test corpus. */
  val NumTables = 8
  val PlanesPerTable = 4
  val NumPlanes = NumTables * PlanesPerTable

  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  /** Brute-force cosine top-k: exact baseline. */
  def topkBruteforce(s: SparkSession, dir: String): DataFrame = {
    val corpus = emb(s, dir).as("c")
    val queries = emb(s, dir).filter(col("vec_id") < NumQueries).as("q")
    val scored = corpus.join(broadcast(queries), col("q.vec_id") =!= col("c.vec_id"))
      .select(
        col("q.vec_id").as("query_id"),
        col("c.vec_id").as("neighbor_id"),
        round(cosineSim(col("q.embedding"), col("c.embedding")), 4).as("cos"))
    rankTopK(scored, col("cos").desc)
  }

  /** Shared ranking tail for the per-query paths: TopKPerKey bounds the
    * shuffle to k rows per (query, partition) — the map-side-heap shape
    * `sim_knn_graph` pioneered — and the rank window only ever sees the
    * <=TopK survivors per query (never the raw scored relation). The
    * survivor set equals the window-filter set exactly because the order
    * (score, then neighbor_id) is total. */
  private def rankTopK(scored: DataFrame, scoreOrd: Column): DataFrame = {
    val top = graft.plans.TopKPerKey.topKPerKey(scored, Seq("query_id"),
      Seq(scoreOrd, col("neighbor_id").asc), TopK)
    top.withColumn("rank", row_number().over(
      Window.partitionBy(col("query_id")).orderBy(scoreOrd, col("neighbor_id").asc)))
  }

  /** ANN via multi-table LSH: a candidate must share a bucket with the
    * query in at least one of `NumTables` hash tables (OR-amplification —
    * the standard recall lever random-hyperplane LSH needs, since a single
    * table's recall collapses as planes grow). Exact cosine rerank runs
    * only on the deduplicated candidate set. Recall < 1 by construction;
    * SimilaritySpec asserts a recall@k floor against the bruteforce
    * baseline. Signature math is integer-exact (quantized projections), so
    * the whole query is oracle-verified end to end.
    *
    * Scale shape: one signature pass over the corpus (all tables' planes in
    * one expression), explode to NumTables (table, bucket) rows, shuffle-join
    * on (table, bucket) against the broadcast query set — candidate volume
    * is Σ_t |bucket_t(q)|, never a cartesian. Cross-table dedup runs on the
    * bare (query, neighbor) id pair (16 bytes/row) and the embeddings join
    * back AFTER — shuffling 64-float vectors through the distinct would
    * cost ~16x the bytes for the same result. */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val mask = (1 << PlanesPerTable) - 1
    val e = emb(s, dir)
    val sigd = e
      .withColumn("sig", PairExpressions.lshSign(col("embedding"), NumPlanes, 64))
      .select(col("vec_id"), explode(array(
        (0 until NumTables).map(t => struct(
          lit(t).as("t"),
          shiftright(col("sig"), t * PlanesPerTable).bitwiseAND(lit(mask)).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val queries = sigd.filter(col("vec_id") < NumQueries)
      .select(col("t"), col("bucket"), col("vec_id").as("query_id"))
    val cands = sigd.join(broadcast(queries), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    val scored = cands
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb")), Seq("neighbor_id"))
      .join(broadcast(e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineSim(col("q_emb"), col("n_emb")), 4).as("cos"))
    rankTopK(scored, col("cos").desc)
  }

  /** Coarse lists train on the deterministic 1-in-TrainMod sample;
    * queries probe NumProbes lists → candidate scan fraction ≈
    * NumProbes/K. `NumCentroids` is the FLOOR of the list count — the
    * test-corpus geometry where a recall floor is still measurable — and
    * the actual K is AUTO-SIZED from the corpus count by [[ivfSizing]]
    * (the `graphSizing` discipline applied to the quantizer): a fixed K
    * at 100 TB means corpus/K-row inverted lists, degrading every
    * list-probing consumer linearly. */
  val NumCentroids = 8
  val NumProbes = 2
  val TrainMod = 2
  val KMeansIters = 2

  /** The coarse-quantizer list count for a corpus of `n` vectors — the
    * documented Θ(√N) IVF sizing rule, APPLIED IN CODE (not left to the
    * caller): K = ceil(√(n/32)), so both the centroid table a query scans
    * (K rows) and the inverted lists it probes (~n/K rows each) grow as
    * √N instead of one of them growing linearly. The 1/32 anchor floors
    * every shipped scale (≤ 2048 vectors) exactly onto the legacy
    * measured-recall K=8 geometry; past that K grows — 50k vectors → 40
    * lists, 10^11 → ~56k lists (the FAISS-guideline K ~ Θ(√N) regime).
    * Consumers (the registry trainer, every list-probing query) derive K
    * from ONE column-pruned count job (parquet footer row counts), and
    * the oracle mirrors the same rule as a COUNT(*) CTE, so Spark and
    * DuckDB can never disagree on the geometry. */
  def ivfSizing(n: Long): Int =
    math.max(NumCentroids,
      math.ceil(math.sqrt(math.max(n, 1L) / 32.0)).toInt)

  /** The row count of `dir`'s embeddings corpus — the one memo behind
    * every corpus-derived registry key constant (the IVF K and the k-NN
    * graph geometry), memoized per (applicationId, dir, corpus
    * fingerprint) so those keys pay ONE footer-stats count job per corpus
    * STATE, not one per key construction. The fingerprint in the key
    * is the same file-listing hash the registry's completion
    * markers use: an in-place embeddings edit — which the artifact
    * markers already catch and retrain on — re-keys the memo too, so key
    * and content can never disagree on a geometry after an edit that
    * crosses a sizing boundary. The fingerprint probe is a directory
    * listing (no data scan), strictly cheaper than the count job it
    * gates. */
  private val embCountMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Long]()
  private[graft] def embCount(s: SparkSession, dir: String): Long =
    embCountMemo.computeIfAbsent((s.sparkContext.applicationId, dir,
        AnnModels.fingerprint(s, dir, "embeddings")),
      _ => emb(s, dir).count())

  /** The auto-sized K of `dir`'s embeddings corpus. */
  def ivfK(s: SparkSession, dir: String): Int = ivfSizing(embCount(s, dir))

  /** IVF-style ANN with a TRAINED coarse quantizer: `KMeansIters` Lloyd's
    * iterations over a deterministic `vec_id % TrainMod` training sample
    * partition the corpus into inverted lists; queries probe only the
    * `NumProbes` nearest lists.
    *
    * Determinism (so the oracle replays training bit-for-bit): components
    * quantize to floor(v*1024+0.5) BIGINT (exact for floats, power-of-two
    * scale); centroid update is an integer per-dimension sum divided by the
    * cluster count — both order-independent — and assignment ranks on
    * round(cos, 4) with cent_id tie-break. Init = the first NumCentroids
    * sample vectors snapped to the same 1/1024 grid.
    *
    * Scale: training touches only the fixed sample (at 100 TB, Lloyd's runs
    * on the sample, never the corpus); each iteration is one broadcast of
    * <=16 centroids + one 64-row-per-vector explode/agg on the sample.
    * Corpus assignment is one broadcast pass (|corpus| x 16 fused-codegen
    * cosines); the candidate join touches only probed lists — the 100 TB
    * path where brute force cannot run.
    *
    * The quantizer is always the registry's: `AnnModels.ivfCentroids`
    * (trained at most once per corpus state, K from [[ivfSizing]]) and its
    * corpus assignment `AnnModels.ivfAssign`. */
  def annIvf(s: SparkSession, dir: String): DataFrame =
    annIvfWith(s, dir, AnnModels.ivfCentroids(s, dir), AnnModels.ivfAssign(s, dir))

  /** [[annIvf]] under an explicit quantizer — `cent` (cent_id, cent_emb)
    * and its narrow corpus assignment (vec_id, cent_id, ccos). The gated
    * query passes the served pair; the recall spec scores an untrained
    * baseline built from [[trainIvfCentroids]] and [[ivfAssignWith]]. */
  private[graft] def annIvfWith(s: SparkSession, dir: String,
      cent: DataFrame, asn: DataFrame): DataFrame = {
    val (assign, probes) = ivfPartsWith(s, dir, cent, asn)
    val scored = assign.join(probes, Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosineSim(col("q_emb"), col("embedding")), 4).as("cos"))
    rankTopK(scored, col("cos").desc)
  }

  /** The trained coarse quantizer's two products, shared by `annIvf` (exact
    * rerank inside probed lists) and `annIvfPq` (ADC inside probed lists):
    * `assign` = (vec_id, embedding, cent_id) corpus→list assignment;
    * `probes` = (query_id, q_emb, cent_id), each query's NumProbes lists. */
  private[operators] def ivfParts(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    ivfPartsWith(s, dir, AnnModels.ivfCentroids(s, dir), AnnModels.ivfAssign(s, dir))

  private def ivfPartsWith(s: SparkSession, dir: String,
      cent: DataFrame, asn: DataFrame): (DataFrame, DataFrame) = {
    val e = emb(s, dir)
    // The corpus ASSIGNMENT is a registry artifact (r13): the
    // broadcast-join + per-vector argmax window is the dominant sub-plan of
    // every list-probing consumer (ANN family, SemDeDup, prototype prune,
    // the cluster samplers), so it runs once per corpus state and consumers
    // re-attach the embedding column with an id-equijoin against the
    // corpus table — scan + join, no window.
    val assign = asn.join(e, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("cent_id"), col("ccos"))
    val probes = e.filter(col("vec_id") < NumQueries).join(broadcast(cent))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("cent_id"),
        round(cosineSim(col("embedding"), col("cent_emb")), 4).as("ccos"))
      .withColumn("prn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("ccos").desc, col("cent_id").asc)))
      .filter(col("prn") <= NumProbes)
      .select(col("query_id"), col("q_emb"), col("cent_id"))
    (assign, probes)
  }

  /** The corpus→list assignment of `e` under quantizer `cent` —
    * (vec_id, cent_id, ccos), ccos = round-4 cosine to the OWN centroid
    * (the SemDeDup keep rule and prototype prune rank by it; computing it
    * here means the one assignment pass serves every proximity consumer).
    * Narrow (no embedding column): the registry persists exactly this. */
  private[graft] def ivfAssignWith(e: DataFrame, cent: DataFrame): DataFrame = {
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id").asc)
    e.join(broadcast(cent))
      .select(col("vec_id"), col("cent_id"),
        round(cosineSim(col("embedding"), col("cent_emb")), 4).as("ccos"))
      .withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") === 1)
      .select(col("vec_id"), col("cent_id"), col("ccos"))
  }

  /** The IVF coarse-quantizer training loop (`KMeansIters` deterministic
    * Lloyd's rounds over the `vec_id % trainMod` sample — see `annIvf`'s
    * determinism note): extracted so `AnnModels` can run it ONCE per
    * dataset and persist the <= numCentroids-row result; the recall and
    * sizing specs call it directly for their variant quantizers. Returns
    * (cent_id, cent_emb); lazily planned — callers materialize. */
  private[graft] def trainIvfCentroids(s: SparkSession, dir: String,
      iters: Int, trainMod: Int, numCentroids: Int): DataFrame = {
    val qemb = transform(col("embedding"),
      v => floor(v.cast("double") * 1024 + 0.5).cast("long"))
    val train = emb(s, dir).filter(col("vec_id") % trainMod === 0)
      .select(col("vec_id"), col("embedding"), qemb.as("qemb"))
    var cent = train.filter(col("vec_id") < trainMod.toLong * numCentroids)
      .select((col("vec_id") / trainMod).cast("int").as("cent_id"),
        transform(col("qemb"), q => q.cast("double") / 1024.0).as("cent_emb"))
    for (_ <- 1 to iters) {
      val wA = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("cent_id").asc)
      val assigned = train.join(broadcast(cent))
        .select(col("vec_id"), col("qemb"), col("cent_id"),
          round(cosineSim(col("embedding"), col("cent_emb")), 4).as("ccos"))
        .withColumn("arn", row_number().over(wA))
        .filter(col("arn") === 1)
      cent = assigned
        .select(col("cent_id"), posexplode(col("qemb")))
        .groupBy(col("cent_id"), col("pos"))
        .agg(sum(col("col")).as("qs"), count(lit(1)).as("n"))
        .groupBy(col("cent_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"),
            (col("qs") / col("n") / 1024.0).as("m")))),
          x => x.getField("m")).as("cent_emb"))
    }
    cent
  }

  /** Product quantization: 64 dims = 16 subspaces x 4 dims, 32 centroids
    * per subspace -> a corpus vector compresses to 16 5-bit codes (10 bytes
    * vs 256) — the compression that lets a 100 TB embedding store scan in
    * memory. With a 32-value codebook, narrow subspaces beat wide ones
    * (quantization error per subspace ~ dims/codebook); at real scale
    * PqCentroids grows to 256 (1 byte/code) and subspaces widen to 8. */
  val PqSubspaces = 16
  val PqSubDims = 4
  val PqCentroids = 32
  /** PQ trains longer than the coarse IVF quantizer: 16 independent 4-dim
    * problems converge cheaply (sample x 32 centroids per round). */
  val PqIters = 2

  /** PQ-compressed ANN (asymmetric distance computation, after Jegou et
    * al.'s product-quantization construction): subquantizers train with
    * `PqIters` Lloyd's rounds on the deterministic sample, each of a corpus
    * vector's 16 subspaces encodes to the nearest of its 32 centroids, and
    * queries scan the CODES — per query, 32 partial squared distances per
    * subspace form a lookup table (broadcast), and a vector's approximate
    * distance is the sum of 16 table entries (one per subspace). No full
    * vector is touched at scan time.
    *
    * Determinism (oracle replays end to end): components quantize to the
    * 1/1024 grid; Lloyd's assignment ranks on round(subspace L2^2, 4) with
    * cent_id tie-break (the `sim_ann_ivf` recipe); ADC table entries are
    * exact micro-unit longs (floor(d*1e6+0.5)), so the 16-way sum is
    * integer — order-independent — and ranking on it is total with the
    * neighbor_id tie-break.
    *
    * Scale shape: training touches the fixed sample; encoding is one
    * broadcast pass (32 centroid distances per subspace per vector);
    * scoring joins codes against a BROADCAST table of |queries| x 16 x 32
    * entries and partial-aggregates map-side — the only shuffle carries
    * one row per (query, vector). This is the compressed linear scan; at
    * 100 TB it composes with `sim_ann_ivf`'s coarse lists to prune the
    * scan to probed inverted lists (IVF-PQ — `annIvfPq` below). */
  def annPq(s: SparkSession, dir: String): DataFrame = {
    val (codes, lut) = pqParts(s, dir)
    val scored = codes.join(broadcast(lut), Seq("m", "cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg((sum(col("pd6")).cast("double") / 1e6).as("dist2_pq"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("dist2_pq"))
    rankTopK(scored, col("dist2_pq").asc)
  }

  /** The product quantizer's two products, shared by `annPq` (full
    * compressed scan) and `annIvfPq` (scan restricted to probed lists):
    * `codes` = (vec_id, m, cent_id), each corpus vector's 16 subspace
    * codes; `lut` = (query_id, m, cent_id, pd6), each query's broadcastable
    * integer ADC table. */
  private def pqBase(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("vec_id"),
      transform(col("embedding"), v => floor(v.cast("double") * 1024 + 0.5).cast("long")).as("qemb"))

  private def pqSubs(df: DataFrame): DataFrame = df.select(col("vec_id"), explode(array(
      (0 until PqSubspaces).map(m => struct(lit(m).as("m"),
        slice(col("qemb"), m * PqSubDims + 1, PqSubDims).as("sub"))): _*)).as("t"))
    .select(col("vec_id"), col("t.m").as("m"), col("t.sub").as("sub"))

  /** Left-to-right subspace L2^2 on the grid — the fused codegen kernel;
    * bit-identical to the oracle's ordered list_sum. */
  private def pqSubDist: Column = VectorExpressions.gridL2(col("sub"), col("cent"))

  private def pqParts(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // Codes from the persisted model artifact: unserved, the corpus-sized
    // encoding pass (full embeddings scan, 16-way subspace expansion,
    // broadcast-codebook argmin) would run on EVERY PQ-family invocation;
    // served, it encodes once per corpus state, the ivfAssign recipe. The
    // per-QUERY ADC table stays in the query — it is NumQueries x 16 x 32
    // rows, broadcast-sized by construction.
    val codes = AnnModels.pqCodes(s, dir)
    val cent = AnnModels.pqCodebook(s, dir)
    val lut = pqSubs(pqBase(s, dir).filter(col("vec_id") < NumQueries))
      .join(broadcast(cent), Seq("m"))
      .select(col("vec_id").as("query_id"), col("m"), col("cent_id"),
        floor(pqSubDist * 1e6 + 0.5).cast("long").as("pd6"))
    (codes, lut)
  }

  /** The build of [[AnnModels.pqCodes]] — every corpus vector's 16
    * subspace codes (vec_id, m, cent_id) under the persisted codebook:
    * one broadcast pass, deterministic argmin as a hash aggregate
    * (min(struct(round-4 d, cent_id)) — no per-(vector, subspace) window
    * sort). Narrow (three integer columns, ~10 bytes/vector at 1-byte
    * codes): the compressed store IS this relation at 100 TB. */
  private[graft] def pqCodesOf(s: SparkSession, dir: String): DataFrame = {
    val cent = AnnModels.pqCodebook(s, dir)
    pqSubs(pqBase(s, dir)).join(broadcast(cent), Seq("m"))
      .select(col("vec_id"), col("m"), col("cent_id"), round(pqSubDist, 4).as("d"))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("d"), col("cent_id"))).as("mc"))
      .select(col("vec_id"), col("m"), col("mc.cent_id").as("cent_id"))
  }

  /** The PQ subquantizer training loop (`PqIters` deterministic Lloyd's
    * rounds per subspace over the `vec_id % TrainMod` sample — see
    * `annPq`'s determinism note): extracted so `AnnModels` runs it once
    * per dataset and persists the result. The sample is materialized
    * (localCheckpoint) because every Lloyd's round consumes it; the
    * returned (m, cent_id, cent) relation is lazily planned — the
    * registry materializes it into the artifact. min(struct(d, cent_id))
    * = deterministic argmin as a hash aggregate — no per-(vector,
    * subspace) window sort. */
  private[graft] def trainPqCodebook(s: SparkSession, dir: String): DataFrame = {
    val trainSub = pqSubs(pqBase(s, dir).filter(col("vec_id") % TrainMod === 0))
      .localCheckpoint()
    var cent = trainSub.filter(col("vec_id") < TrainMod.toLong * PqCentroids)
      .select(col("m"), (col("vec_id") / TrainMod).cast("int").as("cent_id"),
        transform(col("sub"), q => q.cast("double") / 1024.0).as("cent"))
    for (_ <- 1 to PqIters) {
      val assigned = trainSub.join(broadcast(cent), Seq("m"))
        .select(col("vec_id"), col("m"), col("sub"), col("cent_id"),
          round(pqSubDist, 4).as("d"))
        .groupBy("vec_id", "m", "sub")
        .agg(min(struct(col("d"), col("cent_id"))).as("mc"))
        .select(col("m"), col("mc.cent_id").as("cent_id"), col("sub"))
      cent = assigned.select(col("m"), col("cent_id"), posexplode(col("sub")))
        .groupBy("m", "cent_id", "pos")
        .agg(sum(col("col")).as("qs"), count(lit(1)).as("n"))
        .groupBy("m", "cent_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"),
          (col("qs") / col("n") / 1024.0).as("c")))), x => x.getField("c")).as("cent"))
        .localCheckpoint()
    }
    cent
  }

  /** IVF-PQ (the composition `annPq`'s scale note promises): the trained
    * coarse quantizer prunes the scan to each query's `NumProbes` inverted
    * lists, and scoring INSIDE those lists runs on PQ codes through the
    * broadcast ADC table — no full vector is touched at query time. This
    * is the standard billion-scale serving layout (Jegou et al.'s IVFADC):
    * at 100 TB the per-query work is ~NumProbes/NumCentroids of a
    * 10-byte-per-vector code store, with the probed-list restriction
    * applied BEFORE the ADC join so unprobed codes are never scored. The
    * only corpus-sized shuffle co-locates codes with their list ids; the
    * probe set and the ADC table both broadcast. */
  def annIvfPq(s: SparkSession, dir: String): DataFrame =
    rankTopK(ivfPqScored(s, dir), col("dist2_pq").asc)

  /** The IVFADC approximate scores (query_id, neighbor_id, dist2_pq) —
    * shared by `annIvfPq` (ranks on the ADC distance directly) and
    * `annIvfPqRerank` (exact-rescores the ADC shortlist). */
  private[graft] def ivfPqScored(s: SparkSession, dir: String): DataFrame = {
    val (assign, probes) = ivfParts(s, dir)
    val (codes, lut) = pqParts(s, dir)
    val lists = assign.select(col("vec_id"), col("cent_id").as("list_id"))
    val plists = probes.select(col("query_id"), col("cent_id").as("list_id"))
    codes
      .join(lists, Seq("vec_id"))
      .join(broadcast(plists), Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(lut), Seq("query_id", "m", "cent_id"))
      .groupBy("query_id", "vec_id")
      .agg((sum(col("pd6")).cast("double") / 1e6).as("dist2_pq"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("dist2_pq"))
  }

  /** ADC shortlist size the exact rerank rescores — the accuracy/IO knob of
    * the rerank stage (Jegou et al.'s IVFADC+R): R = 4k here; deployments
    * tune R up for recall, and the exact-read cost stays R vectors/query. */
  val RerankR = 4 * TopK

  /** IVF-PQ with EXACT re-ranking (IVFADC+R — the standard serving tail):
    * the compressed ADC scan shortlists `RerankR` candidates per query,
    * then ONLY those R full vectors are read back and exact-rescored by
    * cosine, fixing the quantization-induced rank inversions near the top.
    * This is the deployment shape at 100 TB: the code store prunes, the
    * expensive full-vector reads are bounded at R per query (a
    * TopKPerKey-bounded shuffle, never the probed lists), and the final
    * ranking is exact over the shortlist. Recall@k vs bruteforce can only
    * improve on `sim_ann_ivfpq` (spec-asserted >=). */
  def annIvfPqRerank(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // dist2_pq = d6/1e6 with d6 integer < 2^53 — exact doubles, so this
    // ordering is identical to the oracle's integer-d6 ordering.
    val shortlist = graft.plans.TopKPerKey.topKPerKey(ivfPqScored(s, dir),
      Seq("query_id"), Seq(col("dist2_pq").asc, col("neighbor_id").asc), RerankR)
    val exact = shortlist
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb")), Seq("neighbor_id"))
      .join(broadcast(e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineSim(col("q_emb"), col("n_emb")), 4).as("cos"))
    rankTopK(exact, col("cos").desc)
  }

  val GraphK = 3
  /** The graph path uses FINER buckets than the 20-query ANN (5 plane bits
    * -> 32 buckets/table instead of 16): an all-pairs graph touches every
    * bucket, so bucket population must track corpus/buckets as data grows
    * (the PlanesPerTable ~ log2(N / targetBucketSize) rule). Clustered
    * embeddings concentrate whole clusters into single buckets regardless,
    * so buckets run under the shared salted-bucket policy
    * (Dedup.saltedBuckets) at [[GraphBucketCap]] instead of dropping dense
    * ones: dropping a dense bucket disconnects exactly the vectors that
    * most need dedup. */
  val GraphPlanesPerTable = 5
  val GraphBucketCap = 192

  /** The LSH-table geometry for a corpus of `n` vectors — the documented
    * sizing rule, APPLIED IN CODE (not left to the caller): planesPerTable
    * = ceil(log2(n / GraphBucketCap)) so expected bucket population tracks
    * the salt cap as the corpus grows, floored at the test-corpus constant
    * (every shipped scale lands exactly on the old (8, 5) geometry, so
    * gated results are unchanged); tables trade down when tables x planes
    * would exceed the 64-bit signature budget. */
  /** The SIZING target bucket population (r15) — deliberately SMALLER
    * than the salt cap: the cap bounds the worst bucket, but the sizing
    * rule controls the EXPECTED one, and expected-bucket ≈ cap means the
    * average vector scores ~cap·tables candidates for a k=3 graph (the
    * idle-box ×100 sweep measured the consequence: 206 s at 200k
    * vectors). Targeting 64 keeps candidate volume ∝ corpus at a
    * ~64·tables constant while every shipped scale still floors onto the
    * (8, 5) geometry the oracle mirrors (2048/64 = 32 → raw = 5). */
  val GraphSizeTarget = 64

  def graphSizing(n: Long): (Int, Int) = {
    // INTEGER-EXACT ceil(log2(n / target)): the
    // smallest p with target·2^p >= n, i.e. 2^p >= ceil(n / target) —
    // mathematically identical to the double formulation, but replayable
    // in ANY engine as a shift comparison instead of trusting two libm
    // ln()s to round the same way at power-of-two boundaries. The
    // oracle's COUNT-CTE mirror derives the identical p.
    val m = (math.max(n, 1L) + GraphSizeTarget - 1) / GraphSizeTarget
    val raw = if (m <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    val planes = math.min(math.max(GraphPlanesPerTable, raw), 64)
    val tables = math.max(1, math.min(NumTables, 64 / planes))
    (tables, planes)
  }

  /** Corpus-wide k-NN graph — every vector's top-k approximate neighbors,
    * the precursor to embedding-dedup clustering and diversity sampling at
    * scale (the 20-query ANN paths answer lookups; this builds the whole
    * graph). Candidates come from the same multi-table LSH buckets as
    * annLsh with the bucket-size cap bounding quadratic expansion; edges
    * symmetrize (a bucket pair is a candidate in both directions) and each
    * vector keeps its top `GraphK` by cosine via the custom TopKPerKey
    * physical operator — per-partition bounded heaps, so the shuffle
    * carries at most k rows per (vector, partition) instead of every
    * scored edge (the window+filter plan would shuffle and fully sort all
    * of them).
    *
    * The table geometry is AUTO-SIZED from the corpus count (`graphSizing`)
    * — one column-pruned count job (parquet footer statistics) before the
    * plan is built, the same pre-flight statistic AQE-style planning pays —
    * so the gated path is scale-correct by default instead of only when a
    * caller hand-applies the rule. */
  def knnGraph(s: SparkSession, dir: String): DataFrame =
    // REGISTRY-SERVED: the graph is a per-corpus-
    // state product (the hamming pair-store shape on the embedding
    // column) — built once via the auto-sized geometry, then every read
    // (the gated query, diversity sampling, embedding-dedup precursors)
    // is a bare artifact scan instead of a 30–60 s ×100 rebuild.
    AnnModels.knnGraph(s, dir)

  /** The auto-sized (tables, planes) geometry of `dir`'s corpus. */
  def graphSize(s: SparkSession, dir: String): (Int, Int) = graphSizing(embCount(s, dir))

  /** `knnGraph` with the table/plane/cap knobs exposed — the gated query
    * uses the test-corpus constants above; a deployment (and the
    * scale-stress harness, measurably) applies the documented sizing rule
    * planesPerTable ~ log2(N / targetBucketSize) as the corpus grows,
    * trading table count down when tables x planes hits the 64-bit
    * signature budget. At a FIXED bucket count a 100x corpus saturates
    * every bucket to the salt cap and candidate volume per vector grows
    * toward cap x tables — still bounded, but the constant is the
    * pathology the sizing rule exists to avoid. */
  def knnGraphTuned(s: SparkSession, dir: String, numTables: Int,
      planesPerTable: Int, bucketCap: Int): DataFrame = {
    require(numTables * planesPerTable <= 64, "signature exceeds 64 bits")
    // Long mask: the auto-sized planes pass 30 at ~7e10 vectors, where an
    // Int shift would silently wrap (planes = 64 is unreachable — it
    // needs 64·2^63 vectors — so the Long shift never wraps).
    val mask = (1L << planesPerTable) - 1
    val e = emb(s, dir)
    // the embedding rides every row from here (r15): scoring happens
    // INSIDE the salt group, so candidate pairs never join back against
    // the corpus — at ×100 the two id→embedding joins re-shuffled ~10⁸
    // wide rows and dominated the 206 s wall; the census projects the
    // embedding away (column pruning), so its aggregate stays narrow.
    val sigd = e
      .withColumn("sig", PairExpressions.lshSign(col("embedding"), numTables * planesPerTable, 64))
      .select(col("vec_id"), col("embedding"), explode(array(
        (0 until numTables).map(t => struct(
          lit(t).as("t"),
          shiftright(col("sig"), t * planesPerTable).bitwiseAND(lit(mask)).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("embedding"),
        col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    // pairs explode WITH both embeddings in the row, cosine fuses into
    // the same projection, and only then are cross-table duplicates
    // dropped — the distinct runs on the NARROW (src, dst, cos) relation
    // (24 B/row) instead of the pre-r15 plan's two corpus joins shuffling
    // every candidate with a 64-float array attached. Cosine is exactly
    // symmetric (per-element products commute, dim-order accumulation),
    // so one score serves both edge directions.
    val half = Dedup.bucketPairs(sigd, Seq("t", "bucket"), "vec_id",
        struct(col("vec_id"), col("embedding")), bucketCap)
      .select(col("p.a.vec_id").as("src"), col("p.b.vec_id").as("dst"),
        round(cosineSim(col("p.a.embedding"), col("p.b.embedding")), 4).as("cos"))
      .distinct()
    val scored = half.unionAll(
      half.select(col("dst").as("src"), col("src").as("dst"), col("cos")))
    graft.plans.TopKPerKey.topKPerKey(scored, Seq("src"),
      Seq(col("cos").desc, col("dst").asc), GraphK)
  }

  /** Fraction of each cluster RETAINED by prototype pruning: Sorscher et
    * al. find keeping ~70-80% of abundant data (pruning the easiest) loses
    * nothing; 0.7 keeps the gated output non-trivial at every test scale. */
  val PruneKeepFrac7of10 = 7 // numerator over 10 — integer math only

  /** Self-supervised prototype pruning (Sorscher et al. 2022, "Beyond
    * neural scaling laws: beating power law scaling via data pruning"):
    * rank every vector by similarity to its assigned cluster centroid and
    * PRUNE the most prototypical (easiest) fraction per cluster, keeping
    * the hard examples — the paper's abundant-data regime rule and the
    * standard embedding-space curation step after SemDeDup. The centroid
    * assignment (and its `ccos`) comes from the SAME persisted quantizer
    * every other embedding consumer reads (AnnModels).
    *
    * Scale shape — NO per-cluster sort of the corpus: `ccos` is already on
    * the 1e4 integer grid, so the per-cluster rank threshold comes from a
    * (cluster, cc4) HISTOGRAM — a map-side-combined aggregate of <= 10001
    * rows per cluster — with one window pass over the histogram (never the
    * raw vectors) locating the smallest cc4 whose cumulative count meets
    * the integer quota ceil(7n/10). Vectors then keep/drop by a broadcast
    * join against the <= |clusters| threshold rows. Ties AT the threshold
    * are all kept (deterministic, bounded overshoot = the threshold bin's
    * tie count); quota arithmetic is pure integer, so any engine replays
    * it bit for bit. */
  def prototypePrune(s: SparkSession, dir: String): DataFrame = {
    // narrow consumer: reads the SERVED assignment (no embedding needed)
    val a = AnnModels.ivfAssign(s, dir).select(col("vec_id"), col("cent_id"),
      floor(col("ccos") * 1e4 + 0.5).cast("long").as("cc4"))
    val hist = a.groupBy("cent_id", "cc4").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("cent_id")).orderBy(col("cc4").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("cent_id"))))
    val thr = cum
      .filter(col("cum") >= expr(s"($PruneKeepFrac7of10 * n + 9) DIV 10"))
      .groupBy("cent_id").agg(min(col("cc4")).as("thr"))
    a.join(broadcast(thr), Seq("cent_id"))
      .filter(col("cc4") <= col("thr"))
      .select(col("vec_id"), col("cent_id"), col("cc4"))
  }

  /** Int8 symmetric quantization summary per vector — the compression step
    * a 100 TB embedding store applies before ANN. Quantized value is
    * floor(v/scale + 0.5) (explicit, so any engine reproduces the exact
    * rounding); output is the per-vector scale and quantized-sum checksum. */
  def quantizeInt8(s: SparkSession, dir: String): DataFrame = {
    val scale = aggregate(col("embedding"),
      lit(0.0), (acc, v) => greatest(acc, abs(v.cast("double")))) / 127.0
    emb(s, dir)
      .withColumn("scale", scale)
      .select(
        col("vec_id"),
        col("scale"), // raw double: max/127 is bit-identical across engines
        // zero-scale guard: an all-zero vector quantizes to all-zero codes
        // (scale 0 would otherwise divide by zero — an ANSI error, caught
        // by the degenerate-embeddings sweep)
        when(col("scale") === 0, lit(0L)).otherwise(
          aggregate(col("embedding"), lit(0L),
            (acc, v) => acc + floor(v.cast("double") / col("scale") + 0.5).cast("long")))
          .as("qsum"))
  }

  /** Recall@k audit — the number every ANN deployment watches before
    * trusting the index: per query, |ANN top-k ∩ exact top-k| / |exact
    * top-k|, composing the gated LSH path against the brute-force ground
    * truth. Both sides rank with the identical (cos DESC, neighbor_id ASC)
    * tie rule, so the intersection is deterministic. At 100 TB the ground
    * truth runs on a SAMPLE of queries (here: the same bounded query set
    * both operators already share) — recall is an estimate over queries,
    * never a corpus-sized computation. */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = topkBruteforce(s, dir).select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    val ann = annLsh(s, dir).select(col("query_id"), col("neighbor_id"))
    val hits = ann.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        col("n_true"),
        (floor(coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_true") * 1e6 + 0.5) / 1e6)
          .as("recall"))
  }

  // --- wiring --------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_ann_recall" -> (annRecall _),
    "sim_topk_bruteforce" -> (topkBruteforce _),
    "sim_quantize_int8" -> (quantizeInt8 _),
    "sim_ann_ivf" -> (annIvf _),
    "sim_ann_pq" -> (annPq _),
    "sim_ann_ivfpq" -> (annIvfPq _),
    "sim_ann_ivfpq_rerank" -> (annIvfPqRerank _),
    "sim_ann_lsh" -> (annLsh _),
    "sim_knn_graph" -> (knnGraph _),
    "sim_prototype_prune" -> (prototypePrune _))

  private val cosSql = cosBetween("q.embedding", "c.embedding")

  private[operators] def cosBetween(x: String, y: String): String = {
    def norm2(v: String) =
      s"list_sum(list_transform(generate_series(1, 64), i -> CAST($v[i] AS DOUBLE) * CAST($v[i] AS DOUBLE)))"
    // zero-norm guard mirrors CosineSimilarityExpr: cos(0, ·) = 0, not NaN
    s"CASE WHEN ${norm2(x)} = 0 OR ${norm2(y)} = 0 THEN 0.0 ELSE " +
      s"round(list_sum(list_transform(generate_series(1, 64), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE))) / " +
      s"(sqrt(${norm2(x)}) * sqrt(${norm2(y)})), 4) END"
  }

  /** SQL mirror of [[graphSizing]] — the auto-sized LSH geometry as a
    * 1-row CTE `gsz(planes, tables)` derived from COUNT(*): planes = the
    * smallest p with 2^p ≥ ceil(n / target), a pure integer shift
    * comparison on BOTH sides (no libm), floored/capped exactly as the
    * Scala rule. The p-search tops out at 62 — planes beyond that needs
    * 64·2^62 vectors, past any representable corpus. */
  private[operators] val graphSizingCte: String =
    s"gsz AS (SELECT planes, greatest(1, least($NumTables, 64 // planes)) AS tables FROM (" +
      s"SELECT least(greatest($GraphPlanesPerTable, " +
      "(SELECT min(p) FROM generate_series(0, 62) s(p) WHERE (CAST(1 AS BIGINT) << CAST(p AS INT)) >= m.m)), 64) AS planes " +
      s"FROM (SELECT (greatest(count(*), 1) + ${GraphSizeTarget - 1}) // $GraphSizeTarget AS m FROM embeddings) m))"

  /** Dynamic-geometry hyperplane signature — [[lshSigSqlFor]] with the
    * plane count read from the `gsz` CTE instead of unrolled at SQL-build
    * time (callers CROSS JOIN gsz): same quantization, same md5 sign
    * rule, bit p set iff the projection is positive; bit 63 emitted as
    * min-long (see the sim_knn_graph oracle note). */
  private val dynSigSql: String = {
    val dot = "list_sum(list_transform(generate_series(1, 64), i -> " +
      "CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024 + 0.5) AS BIGINT) * " +
      "(CASE WHEN substr(md5(CAST(p AS VARCHAR) || '_' || CAST(i - 1 AS VARCHAR)), 1, 1) >= '8' THEN 1 ELSE -1 END)))"
    "list_sum(list_transform(generate_series(0, 63), p -> " +
      s"CASE WHEN p < gsz.tables * gsz.planes AND $dot > 0 THEN " +
      "(CASE WHEN p = 63 THEN CAST(-9223372036854775808 AS HUGEINT) " +
      "ELSE CAST(CAST(1 AS BIGINT) << CAST(p AS INT) AS HUGEINT) END) " +
      "ELSE CAST(0 AS HUGEINT) END))"
  }

  /** Hyperplane-signature SQL mirroring HyperplaneSignExpr bit for bit:
    * components quantize to floor(v*1024 + 0.5) BIGINT (exact for floats),
    * plane p / dim d sign is +1 iff md5("p_d") starts >= '8' (first byte >=
    * 0x80), signature bit p set iff the integer projection sum > 0. */
  private def lshSigSqlFor(numPlanes: Int): String = {
    val planeBits = (0 until numPlanes).map { p =>
      val dot = s"list_sum(list_transform(generate_series(1, 64), i -> " +
        s"CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024 + 0.5) AS BIGINT) * " +
        s"(CASE WHEN substr(md5('${p}_' || CAST(i - 1 AS VARCHAR)), 1, 1) >= '8' THEN 1 ELSE -1 END)))"
      s"(CASE WHEN $dot > 0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)"
    }
    planeBits.mkString(" + ")
  }
  private val lshSigSql: String = lshSigSqlFor(NumPlanes)

  /** Subspace m of qemb is elements m*4+1 .. m*4+4 (PqSubDims = 4); mirror
    * of `subDist` against a (m, cent) relation — shared by the PQ and
    * IVF-PQ oracles so the distance formulation cannot drift. */
  private def dSql(q: String, c: String, m: String): String =
    s"list_sum(list_transform(generate_series(1, $PqSubDims), j -> " +
      s"(CAST($q[$m * $PqSubDims + j] AS DOUBLE) / 1024.0 - $c[j]) * " +
      s"(CAST($q[$m * $PqSubDims + j] AS DOUBLE) / 1024.0 - $c[j])))"

  /** CTE chain ending in `assign(vec_id, embedding, cent_id)` — the trained
    * coarse quantizer's corpus assignment, the exact training replay the
    * sim_ann_ivf oracle runs. Shared with the dedup_semantic oracle so the
    * learned clustering cannot drift between the ANN and dedup mirrors. */
  /** SQL mirror of [[ivfSizing]] — the auto-sized list count as a 1-row
    * CTE, so the oracle replays the SAME K the engine derives at any
    * corpus size (both sides: IEEE sqrt + ceil, floor at NumCentroids). */
  private[operators] val ivfkCte: String =
    s"ivfk AS (SELECT greatest($NumCentroids, CAST(ceil(sqrt(count(*) / 32.0)) AS BIGINT)) AS k FROM embeddings)"

  private[operators] val ivfAssignCtes: String =
    s"$ivfkCte, " +
      s"qv AS (SELECT vec_id, embedding, list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1024 + 0.5) AS BIGINT)) AS qemb FROM embeddings), " +
      s"train AS (SELECT * FROM qv WHERE vec_id % $TrainMod = 0), " +
      s"cent0 AS (SELECT CAST(vec_id // $TrainMod AS INT) AS cent_id, list_transform(qemb, q -> CAST(q AS DOUBLE) / 1024.0) AS cent_emb FROM train WHERE vec_id < $TrainMod * (SELECT k FROM ivfk)), " +
      (1 to KMeansIters).map { k =>
        s"s$k AS (SELECT t.vec_id, t.qemb, c.cent_id, ${cosBetween("t.embedding", "c.cent_emb")} AS ccos FROM train t CROSS JOIN cent${k - 1} c), " +
          s"a$k AS (SELECT vec_id, qemb, cent_id FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS rn FROM s$k) WHERE rn = 1), " +
          s"u$k AS (SELECT cent_id, i AS pos, CAST(sum(qemb[i]) AS BIGINT) AS qs, count(*) AS n FROM a$k CROSS JOIN generate_series(1, 64) g(i) GROUP BY 1, 2), " +
          s"cent$k AS (SELECT cent_id, list(CAST(qs AS DOUBLE) / n / 1024.0 ORDER BY pos) AS cent_emb FROM u$k GROUP BY cent_id)"
      }.mkString(", ") + ", " +
      s"cent AS (SELECT * FROM cent$KMeansIters), " +
      s"sa AS (SELECT e.vec_id, e.embedding, c.cent_id, ${cosBetween("e.embedding", "c.cent_emb")} AS ccos FROM embeddings e CROSS JOIN cent c), " +
      "assign AS (SELECT vec_id, embedding, cent_id, ccos FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS rn FROM sa) WHERE rn = 1)"

  /** CTE chain ending in `scored(query_id, vec_id, d6)` — the IVFADC
    * approximate scores, the exact mirror of [[ivfPqScored]]. The IVF chain
    * (i-prefixed) and PQ chain (p-prefixed) are the same recipes as the
    * standalone oracles, composed: scored pairs are only (query, vector)
    * where the vector's coarse list is probed. Shared by the sim_ann_ivfpq
    * oracle (ranks on d6 directly) and the rerank oracle (rescores the
    * d6-shortlist exactly), so the ADC formulation cannot drift. */
  private val ivfpqScoredCtes: String = {
    val ivfIter = (1 to KMeansIters).map { k =>
      s"is$k AS (SELECT t.vec_id, t.qemb, c.cent_id, ${cosBetween("t.embedding", "c.cent_emb")} AS ccos FROM train t CROSS JOIN icent${k - 1} c), " +
        s"ia$k AS (SELECT vec_id, qemb, cent_id FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS rn FROM is$k) WHERE rn = 1), " +
        s"iu$k AS (SELECT cent_id, i AS pos, CAST(sum(qemb[i]) AS BIGINT) AS qs, count(*) AS n FROM ia$k CROSS JOIN generate_series(1, 64) g(i) GROUP BY 1, 2), " +
        s"icent$k AS (SELECT cent_id, list(CAST(qs AS DOUBLE) / n / 1024.0 ORDER BY pos) AS cent_emb FROM iu$k GROUP BY cent_id)"
    }.mkString(", ")
    val pqIter = (1 to PqIters).map { k =>
      s"ps$k AS (SELECT t.vec_id, t.m, t.qemb, c.cent_id, round(${dSql("t.qemb", "c.cent", "t.m")}, 4) AS d FROM tv t JOIN pcent${k - 1} c ON c.m = t.m), " +
        s"pa$k AS (SELECT vec_id, m, qemb, cent_id FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cent_id) AS rn FROM ps$k) WHERE rn = 1), " +
        s"pu$k AS (SELECT m, cent_id, j AS pos, CAST(sum(qemb[m * $PqSubDims + j]) AS BIGINT) AS qs, count(*) AS n FROM pa$k CROSS JOIN generate_series(1, $PqSubDims) g(j) GROUP BY 1, 2, 3), " +
        s"pcent$k AS (SELECT m, cent_id, list(CAST(qs AS DOUBLE) / n / 1024.0 ORDER BY pos) AS cent FROM pu$k GROUP BY m, cent_id)"
    }.mkString(", ")
    s"$ivfkCte, " +
      s"qv AS (SELECT vec_id, embedding, list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1024 + 0.5) AS BIGINT)) AS qemb FROM embeddings), " +
      s"train AS (SELECT * FROM qv WHERE vec_id % $TrainMod = 0), " +
      s"icent0 AS (SELECT CAST(vec_id // $TrainMod AS INT) AS cent_id, list_transform(qemb, q -> CAST(q AS DOUBLE) / 1024.0) AS cent_emb FROM train WHERE vec_id < $TrainMod * (SELECT k FROM ivfk)), " +
      ivfIter + ", " +
      s"icent AS (SELECT * FROM icent$KMeansIters), " +
      s"isa AS (SELECT e.vec_id, c.cent_id, ${cosBetween("e.embedding", "c.cent_emb")} AS ccos FROM embeddings e CROSS JOIN icent c), " +
      "iassign AS (SELECT vec_id, cent_id FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id ASC) AS rn FROM isa) WHERE rn = 1), " +
      s"isp AS (SELECT e.vec_id AS query_id, c.cent_id, ${cosBetween("e.embedding", "c.cent_emb")} AS ccos FROM embeddings e CROSS JOIN icent c WHERE e.vec_id < $NumQueries), " +
      s"iprobes AS (SELECT query_id, cent_id FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, cent_id ASC) AS rn FROM isp) WHERE rn <= $NumProbes), " +
      s"tv AS (SELECT vec_id, qemb, m FROM qv CROSS JOIN generate_series(0, ${PqSubspaces - 1}) g(m) WHERE vec_id % $TrainMod = 0), " +
      s"pcent0 AS (SELECT m, CAST(vec_id // $TrainMod AS INT) AS cent_id, " +
      s"list_transform(generate_series(1, $PqSubDims), j -> CAST(qemb[m * $PqSubDims + j] AS DOUBLE) / 1024.0) AS cent " +
      s"FROM tv WHERE vec_id < ${TrainMod * PqCentroids}), " +
      pqIter + ", " +
      s"pcent AS (SELECT * FROM pcent$PqIters), " +
      s"av AS (SELECT vec_id, qemb, m FROM qv CROSS JOIN generate_series(0, ${PqSubspaces - 1}) g(m)), " +
      s"pse AS (SELECT a.vec_id, a.m, c.cent_id, round(${dSql("a.qemb", "c.cent", "a.m")}, 4) AS d FROM av a JOIN pcent c ON c.m = a.m), " +
      "codes AS (SELECT vec_id, m, cent_id FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cent_id) AS rn FROM pse) WHERE rn = 1), " +
      s"lut AS (SELECT q.vec_id AS query_id, c.m, c.cent_id, CAST(floor(${dSql("q.qemb", "c.cent", "c.m")} * 1000000 + 0.5) AS BIGINT) AS pd6 " +
      s"FROM qv q CROSS JOIN pcent c WHERE q.vec_id < $NumQueries), " +
      "scored AS (SELECT l.query_id, co.vec_id, CAST(sum(l.pd6) AS BIGINT) AS d6 " +
      "FROM codes co JOIN iassign a ON a.vec_id = co.vec_id " +
      "JOIN iprobes p ON p.cent_id = a.cent_id " +
      "JOIN lut l ON l.query_id = p.query_id AND l.m = co.m AND l.cent_id = co.cent_id " +
      "WHERE co.vec_id <> l.query_id GROUP BY 1, 2)"
  }

  def oracles: Map[String, String] = Map(
    "sim_ann_lsh" ->
      (s"WITH sigd AS (SELECT vec_id, embedding, CAST($lshSigSql AS BIGINT) AS sig FROM embeddings), " +
        s"tb AS (SELECT vec_id, (sig >> (t * $PlanesPerTable)) & ${(1 << PlanesPerTable) - 1} AS bucket, t " +
        s"FROM sigd CROSS JOIN generate_series(0, ${NumTables - 1}) g(t)), " +
        s"cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id " +
        s"FROM tb c JOIN tb q ON q.t = c.t AND q.bucket = c.bucket AND q.vec_id < $NumQueries AND q.vec_id <> c.vec_id), " +
        s"scored AS (SELECT cand.query_id, cand.neighbor_id, $cosSql AS cos " +
        "FROM cand JOIN embeddings q ON q.vec_id = cand.query_id JOIN embeddings c ON c.vec_id = cand.neighbor_id) " +
        "SELECT query_id, neighbor_id, cos, rank FROM (SELECT *, CAST(row_number() OVER " +
        "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank FROM scored) " +
        s"WHERE rank <= $TopK"),
    "sim_ann_ivf" ->
      (s"WITH $ivfAssignCtes, " +
        s"sp AS (SELECT e.vec_id AS query_id, e.embedding AS q_emb, c.cent_id, ${cosBetween("e.embedding", "c.cent_emb")} AS ccos FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < $NumQueries), " +
        s"probes AS (SELECT query_id, q_emb, cent_id FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, cent_id ASC) AS rn FROM sp) WHERE rn <= $NumProbes), " +
        s"cands AS (SELECT p.query_id, a.vec_id AS neighbor_id, ${cosBetween("p.q_emb", "a.embedding")} AS cos " +
        "FROM assign a JOIN probes p ON a.cent_id = p.cent_id WHERE a.vec_id <> p.query_id) " +
        "SELECT query_id, neighbor_id, cos, rank FROM (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank FROM cands) " +
        s"WHERE rank <= $TopK"),
    "sim_ann_pq" -> {
      s"WITH qv AS (SELECT vec_id, list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1024 + 0.5) AS BIGINT)) AS qemb FROM embeddings), " +
        s"tv AS (SELECT vec_id, qemb, m FROM qv CROSS JOIN generate_series(0, ${PqSubspaces - 1}) g(m) WHERE vec_id % $TrainMod = 0), " +
        s"cent0 AS (SELECT m, CAST(vec_id // $TrainMod AS INT) AS cent_id, " +
        s"list_transform(generate_series(1, $PqSubDims), j -> CAST(qemb[m * $PqSubDims + j] AS DOUBLE) / 1024.0) AS cent " +
        s"FROM tv WHERE vec_id < ${TrainMod * PqCentroids}), " +
        (1 to PqIters).map { k =>
          s"s$k AS (SELECT t.vec_id, t.m, t.qemb, c.cent_id, round(${dSql("t.qemb", "c.cent", "t.m")}, 4) AS d " +
            s"FROM tv t JOIN cent${k - 1} c ON c.m = t.m), " +
            s"a$k AS (SELECT vec_id, m, qemb, cent_id FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cent_id) AS rn FROM s$k) WHERE rn = 1), " +
            s"u$k AS (SELECT m, cent_id, j AS pos, CAST(sum(qemb[m * $PqSubDims + j]) AS BIGINT) AS qs, count(*) AS n " +
            s"FROM a$k CROSS JOIN generate_series(1, $PqSubDims) g(j) GROUP BY 1, 2, 3), " +
            s"cent$k AS (SELECT m, cent_id, list(CAST(qs AS DOUBLE) / n / 1024.0 ORDER BY pos) AS cent FROM u$k GROUP BY m, cent_id)"
        }.mkString(", ") + ", " +
        s"cent AS (SELECT * FROM cent$PqIters), " +
        s"av AS (SELECT vec_id, qemb, m FROM qv CROSS JOIN generate_series(0, ${PqSubspaces - 1}) g(m)), " +
        s"se AS (SELECT a.vec_id, a.m, c.cent_id, round(${dSql("a.qemb", "c.cent", "a.m")}, 4) AS d FROM av a JOIN cent c ON c.m = a.m), " +
        "codes AS (SELECT vec_id, m, cent_id FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cent_id) AS rn FROM se) WHERE rn = 1), " +
        s"lut AS (SELECT q.vec_id AS query_id, c.m, c.cent_id, CAST(floor(${dSql("q.qemb", "c.cent", "c.m")} * 1000000 + 0.5) AS BIGINT) AS pd6 " +
        s"FROM qv q CROSS JOIN cent c WHERE q.vec_id < $NumQueries), " +
        "scored AS (SELECT l.query_id, co.vec_id, CAST(sum(l.pd6) AS BIGINT) AS d6 " +
        "FROM codes co JOIN lut l ON l.m = co.m AND l.cent_id = co.cent_id WHERE co.vec_id <> l.query_id GROUP BY 1, 2) " +
        "SELECT query_id, vec_id AS neighbor_id, CAST(d6 AS DOUBLE) / 1000000 AS dist2_pq, rank FROM " +
        "(SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY d6, vec_id) AS INT) AS rank FROM scored) " +
        s"WHERE rank <= $TopK"
    },
    "sim_ann_ivfpq" ->
      (s"WITH $ivfpqScoredCtes " +
        "SELECT query_id, vec_id AS neighbor_id, CAST(d6 AS DOUBLE) / 1000000 AS dist2_pq, rank FROM " +
        "(SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY d6, vec_id) AS INT) AS rank FROM scored) " +
        s"WHERE rank <= $TopK"),
    "sim_ann_ivfpq_rerank" ->
      (s"WITH $ivfpqScoredCtes, " +
        s"cand AS (SELECT query_id, vec_id FROM (SELECT *, row_number() OVER " +
        s"(PARTITION BY query_id ORDER BY d6, vec_id) AS rr FROM scored) WHERE rr <= $RerankR), " +
        s"ex AS (SELECT cand.query_id, cand.vec_id AS neighbor_id, $cosSql AS cos " +
        "FROM cand JOIN embeddings q ON q.vec_id = cand.query_id JOIN embeddings c ON c.vec_id = cand.vec_id) " +
        "SELECT query_id, neighbor_id, cos, rank FROM (SELECT *, CAST(row_number() OVER " +
        "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank FROM ex) " +
        s"WHERE rank <= $TopK"),
    "sim_knn_graph" ->
      // GEOMETRY-MIRRORED oracle (the ivfK discipline): (tables, planes) derive from a COUNT(*) CTE with
      // the same integer shift rule as [[graphSizing]], and the
      // signature/bucket expressions read the derived geometry instead
      // of interpolated compile-time constants — so Spark and DuckDB
      // pick the SAME grown geometry at any corpus size, not just the
      // floored test scales. Bit 63 (reachable at 8×8, i.e. 8k–16k
      // vectors) maps to min-long explicitly: DuckDB's checked 1<<63
      // would error, while the engine's signature is a two's-complement
      // long — summing bits 0..62 plus −2^63 in HUGEINT and casting
      // back lands on the identical long.
      (s"WITH $graphSizingCte, " +
        s"sigd AS (SELECT vec_id, embedding, CAST($dynSigSql AS BIGINT) AS sig, " +
        "gsz.tables AS nt, gsz.planes AS np FROM embeddings CROSS JOIN gsz), " +
        "tb AS (SELECT vec_id, (sig >> CAST(t * np AS INT)) & ((CAST(1 AS BIGINT) << CAST(np AS INT)) - 1) AS bucket, t " +
        s"FROM sigd CROSS JOIN generate_series(0, ${NumTables - 1}) g(t) WHERE t < nt), " +
        "tbs AS (SELECT vec_id, t, bucket, " +
        s"${graft.functions.hash52Sql("vec_id")} % ((bn + ${GraphBucketCap - 1}) // $GraphBucketCap) AS salt " +
        "FROM (SELECT vec_id, t, bucket, count(*) OVER (PARTITION BY t, bucket) AS bn FROM tb)), " +
        "tbc AS (SELECT vec_id, t, bucket, salt FROM (SELECT vec_id, t, bucket, salt, " +
        s"count(*) OVER (PARTITION BY t, bucket, salt) AS gn FROM tbs) WHERE gn <= ${2 * GraphBucketCap}), " +
        "pairs AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb " +
        "FROM tbc a JOIN tbc b ON a.t = b.t AND a.bucket = b.bucket AND a.salt = b.salt AND a.vec_id < b.vec_id), " +
        "edges AS (SELECT va, vb FROM pairs UNION ALL SELECT vb AS va, va AS vb FROM pairs), " +
        s"scored AS (SELECT e.va AS src, e.vb AS dst, ${cosBetween("ea.embedding", "eb.embedding")} AS cos " +
        "FROM edges e JOIN embeddings ea ON ea.vec_id = e.va JOIN embeddings eb ON eb.vec_id = e.vb) " +
        "SELECT src, dst, cos FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY src ORDER BY cos DESC, dst ASC) AS rn FROM scored) " +
        s"WHERE rn <= $GraphK"),
    "sim_prototype_prune" ->
      (s"WITH $ivfAssignCtes, " +
        "qa AS (SELECT vec_id, cent_id, CAST(floor(ccos * 10000 + 0.5) AS BIGINT) AS cc4 FROM assign), " +
        "hist AS (SELECT cent_id, cc4, count(*) AS cnt FROM qa GROUP BY 1, 2), " +
        "cum AS (SELECT cent_id, cc4, " +
        "sum(cnt) OVER (PARTITION BY cent_id ORDER BY cc4 ROWS UNBOUNDED PRECEDING) AS cum, " +
        "sum(cnt) OVER (PARTITION BY cent_id) AS n FROM hist), " +
        s"thr AS (SELECT cent_id, min(cc4) AS thr FROM cum WHERE cum >= ($PruneKeepFrac7of10 * n + 9) // 10 GROUP BY cent_id) " +
        "SELECT qa.vec_id, qa.cent_id, qa.cc4 FROM qa JOIN thr ON qa.cent_id = thr.cent_id " +
        "WHERE qa.cc4 <= thr.thr"),
    "sim_quantize_int8" ->
      ("SELECT vec_id, scale, CASE WHEN scale = 0 THEN 0 ELSE " +
        "CAST(list_sum(list_transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) / scale + 0.5) AS BIGINT))) AS BIGINT) END AS qsum FROM " +
        "(SELECT vec_id, embedding, list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) / 127.0 AS scale FROM embeddings)"),
    "sim_topk_bruteforce" ->
      (s"WITH scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $cosSql AS cos " +
        s"FROM embeddings c JOIN embeddings q ON q.vec_id < $NumQueries AND q.vec_id <> c.vec_id), " +
        "ranked AS (SELECT query_id, neighbor_id, cos, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank FROM scored) " +
        s"SELECT query_id, neighbor_id, cos, rank FROM ranked WHERE rank <= $TopK"),
    "sim_ann_recall" ->
      // Both rankings replayed with the shared building blocks (lshSigSql /
      // cosSql) under prefixed CTE names, then intersected per query.
      (s"WITH sigd AS (SELECT vec_id, embedding, CAST($lshSigSql AS BIGINT) AS sig FROM embeddings), " +
        s"tb AS (SELECT vec_id, (sig >> (t * $PlanesPerTable)) & ${(1 << PlanesPerTable) - 1} AS bucket, t " +
        s"FROM sigd CROSS JOIN generate_series(0, ${NumTables - 1}) g(t)), " +
        s"acand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id " +
        s"FROM tb c JOIN tb q ON q.t = c.t AND q.bucket = c.bucket AND q.vec_id < $NumQueries AND q.vec_id <> c.vec_id), " +
        s"ascored AS (SELECT acand.query_id, acand.neighbor_id, $cosSql AS cos " +
        "FROM acand JOIN embeddings q ON q.vec_id = acand.query_id JOIN embeddings c ON c.vec_id = acand.neighbor_id), " +
        s"ann AS (SELECT query_id, neighbor_id FROM (SELECT *, row_number() OVER " +
        s"(PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank FROM ascored) WHERE rank <= $TopK), " +
        s"escored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $cosSql AS cos " +
        s"FROM embeddings c JOIN embeddings q ON q.vec_id < $NumQueries AND q.vec_id <> c.vec_id), " +
        s"ex AS (SELECT query_id, neighbor_id FROM (SELECT *, row_number() OVER " +
        s"(PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank FROM escored) WHERE rank <= $TopK), " +
        "et AS (SELECT query_id, count(*) AS n_true FROM ex GROUP BY 1), " +
        "ht AS (SELECT ex.query_id, count(*) AS n_hit FROM ex JOIN ann " +
        "ON ann.query_id = ex.query_id AND ann.neighbor_id = ex.neighbor_id GROUP BY 1) " +
        "SELECT et.query_id, CAST(coalesce(ht.n_hit, 0) AS BIGINT) AS n_hit, et.n_true, " +
        "floor(CAST(coalesce(ht.n_hit, 0) AS DOUBLE) / et.n_true * 1000000 + 0.5) / 1000000 AS recall " +
        "FROM et LEFT JOIN ht ON et.query_id = ht.query_id"))
}
