package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._
import graft.sources.Tables

/** Section C (part 1) of SURVEY §2: deduplication for training-data
  * pipelines, over the `documents` (text) and `embeddings` (vector) tables.
  *
  * Scale design (100 TB):
  *  - exact: shuffle 32-byte md5 keys, never full documents.
  *  - MinHash-LSH: per-doc signature is computed in a single narrow pass
  *    (no explode of shingles across the shuffle); only (band, hash) pairs
  *    shuffle, so candidate volume is tuned by the band/row layout, and the
  *    quadratic Jaccard verification only ever runs on LSH candidates.
  *  - SimHash: one 64-bit long per doc; near-dup buckets shuffle longs.
  *  - embedding near-dup: blocked pairwise (here by `label`, standing in for
  *    any coarse clustering/LSH prefix), dense labels salted into bounded
  *    md5-hash groups — the all-pairs cross join never materializes.
  *
  * The hash family is md5-over-utf8 (see graft.functions) so every step is
  * replayable by the ANSI-SQL oracle — the whole LSH pipeline is
  * hash-match-verified, not just row counts. MinHash derives all K
  * permutation hashes from ONE md5 per shingle (Broder's construction,
  * MinHashSigExpr) — the 100 TB hashing bill is 1/K of the naive
  * per-permutation-md5 formulation, and LSH bucket keys shuffle as 8-byte
  * longs, not 32-char hex strings.
  */
object Dedup {

  val MinhashPerms = 8          // 8 bands x 1 row
  val ShingleN = 3
  val JaccardThreshold = 0.2
  val CosineThreshold = 0.4
  /** Bucket-size cap of the minhash, simhash-block, posting-list and
    * persisted-index paths under the shared salted-bucket policy
    * ([[saltedBuckets]]; gated path AND oracle). A dense bucket —
    * boilerplate or empty-ish docs all agreeing on a minhash — expands
    * quadratically on one task at 100 TB. 64 is far above any organic
    * bucket in the test corpora (max observed: 19 at sf0.1). */
  val MaxBucket = 64

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  /** Exact dedup: canonical doc per identical text. */
  def exact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(md5Hex(col("text")).as("h"), col("doc_id"))
      .groupBy("h")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-doc MinHash signature exploded to (doc_id, band, h) rows.
    * The input is repartitioned before the K*shingles hash computation:
    * a single parquet row group would otherwise pin the whole signature
    * pass to one task (at cluster scale many input splits make this a
    * no-op cost-wise; on skewed/small-file inputs it is the difference
    * between 1 and all cores). */
  private def bandedSignatures(s: SparkSession, dir: String): DataFrame =
    lshIndexOf(docs(s, dir))

  /** Banded MinHash signatures (doc_id, band, h) of ANY (doc_id, text)
    * relation — the persistable LSH INDEX of a corpus: write these three
    * columns to parquet and incremental ingestion (`incrementalLshMatch`)
    * matches each new batch against the index WITHOUT touching corpus
    * text again. */
  def lshIndexOf(d: DataFrame): DataFrame =
    d.repartition(col("doc_id"))
      .select(col("doc_id"),
        posexplode(ShingleExpressions.minhashSig(col("text"), MinhashPerms, ShingleN))
          .as(Seq("band", "h")))

  /** MinHash-LSH candidate pairs: docs sharing any (band, minhash).
    *
    * Signatures bucket by (band, hash) in one shuffle and pairs expand
    * inside each (bucket, salt) group — no self-join that would reshuffle
    * the signature relation against itself. Bucket sizes are bounded by
    * LSH design (a bucket == docs agreeing on a minhash) AND by the shared
    * salted-bucket policy ([[saltedBuckets]]), which the oracle replays. */
  def minhashLsh(s: SparkSession, dir: String): DataFrame =
    // the candidate set is a registry artifact (AnnModels.candPairs
    // — the hamming pair-store discipline): its six consumers share one
    // signature + census + salt + explode chain per corpus state.
    AnnModels.candPairs(s, dir)

  /** 64-bit SimHash per document (pure per-row expression, no shuffle).
    * 64 bits — not 16 — so the hamming-pigeonhole block space below stays
    * sparse as the corpus grows (a 16-bit space saturates at ~1e5 docs). */
  def simhash(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), ShingleExpressions.simhash64(col("text")).as("simhash"))

  val MaxHamming = 2

  /** SimHash near-dup pairs within `MaxHamming` bits, by block pigeonhole:
    * <= 2 differing bits cannot touch all three hash blocks (22+21+21), so
    * every qualifying pair collides exactly in at least one block bucket —
    * candidate generation is 3 bucket rows per doc and one shuffle, never
    * all-pairs; the XOR-popcount verification runs only on candidates.
    *
    * Boilerplate-heavy corpora still concentrate organic near-dup clusters
    * into single buckets, so block buckets run under the shared
    * salted-bucket policy ([[saltedBuckets]]). Its census pass recomputes
    * the per-doc simhash (embarrassingly parallel CPU); that trade is
    * strictly better at scale than a windowed buffer of the densest
    * buckets. */
  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    // the verified pair relation is itself a registry artifact
    // (hammingPairs over the served degenerate census): the pair relation
    // is a pure function of corpus + constants, so the per-invocation
    // cost of the gated query is one artifact read — the minhashVerified
    // serving discipline applied to the hamming family.
    AnnModels.simhashPairs(s, dir)

  /** The (doc_id, h) simhash relation the hamming engine pairs. */
  private[graft] def simhashed(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), ShingleExpressions.simhash64(col("text")).as("h"))

  /** A served degenerate census, collected: the plan BRANCHES on it, and
    * the bound is structural (≤ 3 values per block). */
  private[graft] def degenOf(census: DataFrame): Seq[(Int, Long)] =
    census.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq

  /** A block value is DEGENERATE when its bucket holds more than this
    * share of the corpus (bn · DegenShare > n): a saturated value (the
    * all-zero upper fingerprint windows of short audio assets) carries no
    * discriminative signal — its salt-capped buckets surface a uniform
    * ~cap/bn fraction of the pairs matching on it (1/ceil(bn/cap) odds of
    * two docs sharing a salt group), which at bn ≈ n is residual luck,
    * not a recall path, while every surfaced candidate still costs a
    * verify. 4 (25%) sits two orders above any organic bucket (measured:
    * simhash/phash heaviest buckets ≤ 1.4% at every shipped scale and at
    * ×100, audio's saturated blocks ≥ 94%), so content-bearing blocks are
    * untouched by construction. */
  val DegenShare = 4L

  /** Hamming-<= `MaxHamming` pairs over ANY (doc_id, h: 64-bit) relation —
    * the engine behind `simhashPairs`, reused verbatim by the multimodal
    * perceptual-hash pairing (Multimodal.phashPairs): 3-block pigeonhole
    * candidates under the shared salted-bucket policy, XOR-popcount verify
    * on candidates only. `degen` is the relation's degenerate-block census
    * ([[degenOf]] of [[degenCensusOf]], registry-served on the gated
    * paths); an empty census masks nothing. */
  private[graft] def hammingPairs(hashed: DataFrame, degen: Seq[(Int, Long)],
      maxBucket: Int = MaxBucket): DataFrame =
    hammingCandidates(hashed, degen, maxBucket)
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(ha ^ hb) AS INT)").as("hamming"))
      .filter(col("hamming") <= MaxHamming)

  /** [[hammingPairs]]' candidate relation BEFORE the XOR-popcount verify
    * — (doc_a, ha, doc_b, hb), distinct — exposed so the mask spec and
    * the scale profiler can measure candidate volume directly. */
  private[graft] def hammingCandidates(hashed: DataFrame, degen: Seq[(Int, Long)],
      maxBucket: Int = MaxBucket): DataFrame = {
    // the ONE pigeonhole split (hammingBlocked) — the block constants
    // live in exactly one Scala site plus the SQL mirror.
    def blockedOf = hammingBlocked(hashed)
      .select(col("doc_id"), col("full").as("h"),
        col("band").as("bi"), col("h").as("bv"))
    // Degenerate-block MASK (r14): drop saturated (bi, bv) buckets from
    // candidate generation — unless a document has NO clean block at all,
    // in which case its rows all stay (totality; the salt cap still
    // bounds them). The EXACT recall position: the 3-block pigeonhole
    // guarantees a hamming-&le;-MaxHamming pair one error-free block;
    // where no block is degenerate (simhash/phash at every measured
    // scale: heaviest bucket &le; 1.5% of corpus) the mask touches
    // nothing and ground-truth recall is 100% (measured 7/7, 155/155,
    // 8/8). A degenerate bucket (the all-zero upper windows of short
    // audio) means the corpus is a hamming NEAR-CLIQUE on that block —
    // true pairs are Θ(n²) (measured: 1.04M among 5k assets), so ANY
    // sub-quadratic generator is budget-bounded there and the salt split
    // surfaces a ~1/ceil(bn/cap) lottery of them. The mask reallocates
    // that budget to the content-bearing buckets: ×100 measured 44.7M →
    // 12.9M candidates, 87 → 29 s, verify YIELD 35% → 98%, while the
    // clean-block paths (the pigeonhole-guaranteed ones) are untouched
    // by construction — masked candidates == unmasked candidates
    // generated via clean buckets (spec).
    //
    // the census is a per-CORPUS-STATE value, not a
    // per-invocation one — every gated corpus path passes it in
    // REGISTRY-SERVED (AnnModels.simhashDegen etc.: ≤ 9 rows, trained once,
    // fingerprint-fresh), so the hot path pays one tiny artifact read
    // instead of a checkpoint + census aggregate per query.
    val blocked =
      if (degen.isEmpty) blockedOf // the exact pre-mask plan: the salt
        // census and bucket join recompute the hash chain (embarrassingly
        // parallel CPU — the documented trade over buffering), zero mask
        // operators on the hot path
      else {
        // per-doc fallback (a doc with no clean block keeps all rows)
        // rides ONE doc_id regroup of the ≤3-row groups, no join-back.
        // Checkpointed: the salt census and the bucket join both consume
        // the masked relation — one regroup, not two.
        val isDegen = degen
          .map { case (bi, bv) => col("bi") === bi && col("bv") === bv }
          .reduce(_ || _)
        blockedOf
          .withColumn("dg", when(isDegen, 1).otherwise(0))
          .groupBy("doc_id")
          .agg(collect_list(struct(col("h"), col("bi"), col("bv"), col("dg"))).as("bs"))
          .select(col("doc_id"), explode(expr(
            "CASE WHEN exists(bs, b -> b.dg = 0) THEN filter(bs, b -> b.dg = 0) ELSE bs END")).as("b"))
          .select(col("doc_id"), col("b.h").as("h"),
            col("b.bi").as("bi"), col("b.bv").as("bv"))
          .localCheckpoint()
      }
    bucketPairs(blocked, Seq("bi", "bv"), "doc_id", struct(col("doc_id"), col("h")), maxBucket)
      .select(col("p.a.doc_id").as("doc_a"), col("p.a.h").as("ha"),
        col("p.b.doc_id").as("doc_b"), col("p.b.h").as("hb"))
      .distinct()
  }

  /** The DEGENERATE-block census of ANY (doc_id, h: 64-bit) relation —
    * the ≤ 9 (bi, bv) bucket values holding more than a 1/[[DegenShare]]
    * corpus share (each of the 3 blocks admits at most DegenShare−1 = 3
    * such values, so the bound is structural, not empirical — the
    * provably-bounded-collect discipline). ONE map-side-combinable
    * (bi, bv) aggregate; the per-block total equals the corpus count n
    * (every doc emits exactly one row per block), so n = sum(bn)/3 — no
    * per-block rollup or broadcast join, and never a Window over bucket
    * members (the dense-bucket anti-pattern PlansSpec pins). Trained into
    * the model store per corpus state by AnnModels.simhashDegen etc.; called
    * inline for arbitrary relations (spec corpora, ingest probes). */
  private[graft] def degenCensusOf(hashed: DataFrame): DataFrame = {
    val census = hammingBlocked(hashed)
      .groupBy(col("band").as("bi"), col("h").as("bv"))
      .agg(count(lit(1)).as("bn"))
      .localCheckpoint()
    val n = census.agg(coalesce(sum(col("bn")), lit(0L))).first().getLong(0) / 3
    census.filter(col("bn") * DegenShare > lit(n)).select(col("bi"), col("bv"))
  }

  /** The pigeonhole block layout (bits per block, low to high) as the
    * registry-key token — part of the AnnModels `Hamming` constant group,
    * so a layout change here re-keys (and therefore rebuilds) the
    * degenerate censuses and pair relations downstream of it instead of
    * serving stale ones (a key that hardcodes the layout string would
    * not re-key when the layout changes). Must describe exactly what [[hammingBlocked]] computes. */
  private[graft] val BlockLayout = "22/21/21"

  /** 3-block pigeonhole rows of ANY (doc_id, h: 64-bit) relation, keyed
    * for the shared salted-index policy (band = block index, h = block
    * value) with the full 64-bit hash riding along for the candidate
    * XOR-popcount verify — the persisted-index form of [[hammingPairs]]'s
    * candidate generation (Multimodal's perceptual-hash ingest probe
    * builds its index and probe sides from exactly these rows). */
  private[graft] def hammingBlocked(hashed: DataFrame): DataFrame =
    hashed
      .select(col("doc_id"), col("h").as("full"), explode(array(
        struct(lit(0).as("bi"), col("h").bitwiseAND(lit(4194303L)).as("bv")),
        struct(lit(1).as("bi"), shiftright(col("h"), 22).bitwiseAND(lit(2097151L)).as("bv")),
        struct(lit(2).as("bi"), shiftright(col("h"), 43).bitwiseAND(lit(2097151L)).as("bv")))).as("t"))
      .select(col("doc_id"), col("full"), col("t.bi").as("band"), col("t.bv").as("h"))

  /** n-gram Jaccard verification over inverted-index candidates:
    * only pairs sharing >= 1 shingle are scored (never all pairs).
    * Posting lists are the same quadratic hazard as LSH buckets one tier
    * down — a stopword-like shingle's list grows with the corpus — so
    * posting lists run under the shared salted-bucket policy.
    * A pair's intersection then counts only shingles where both docs land
    * in the same salt group: for lists under the cap (all organic lists in
    * the test corpora) that is every shared shingle, and for dense lists
    * the loss is exactly the near-zero-signal stopword shingles — jaccard
    * degrades toward a df-cut, never an OOM. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    shingleInterPairs(s, dir)
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)

  /** Jaccard-decile bands of the recall audit. */
  val RecallBands = 10

  /** LSH candidate-RECALL audit — the measured S-curve: for every
    * shingle-sharing pair (the exact-Jaccard ground truth, enumerable
    * without an all-pairs pass because jaccard > 0 ⟺ shares a shingle —
    * the posting-list engine [[ngramJaccard]] runs, bounded by the same
    * salt caps), which fraction does the banded MinHash candidate
    * generator ([[minhashLsh]]) actually surface, per Jaccard decile? The
    * readout that validates the b×r choice against theory (P[candidate] =
    * 1-(1-s^r)^b) before trusting the dedup gate at 100 TB — the dedup
    * analog of `sim_ann_recall`. Bands are exact integer arithmetic
    * ((inter·10) DIV union, clamped to 9), recall is ppm integer division
    * — nothing to drift. Output is ≤ [[RecallBands]] rows. */
  def lshRecall(s: SparkSession, dir: String): DataFrame =
    lshRecallOf(s, dir, minhashLsh(s, dir))

  /** The same audit over the BANDED (b=4×r=2) generator — side by side
    * with [[lshRecall]] this is the b×r trade made measurable: r=2 AND-
    * amplification suppresses low-similarity candidates (cheaper
    * verification) at the cost of mid-band recall, exactly the
    * 1-(1-s^r)^b curves. */
  def lshRecallBanded(s: SparkSession, dir: String): DataFrame =
    lshRecallOf(s, dir, minhashLshBanded(s, dir))

  private def lshRecallOf(s: SparkSession, dir: String,
      candidates: DataFrame): DataFrame = {
    val truth = shingleInterPairs(s, dir)
      .select(col("doc_a"), col("doc_b"),
        least(expr(s"(inter * $RecallBands) DIV (na + nb - inter)"),
          lit(RecallBands - 1)).cast("int").as("sim_band"))
    val cand = candidates.withColumn("hit", lit(1))
    truth.join(cand, Seq("doc_a", "doc_b"), "left")
      .groupBy("sim_band")
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("hit"), lit(0)).cast("long")).as("n_hit"))
      .withColumn("recall_ppm", expr("(n_hit * 1000000) DIV n_pairs"))
  }

  /** Containment floor for [[containment]] — deliberately high: the rule
    * exists for pairs where most of the SMALLER doc is shared. */
  val ContainmentThreshold = 0.5

  /** Containment-verified near-dup audit — the ASYMMETRIC companion to
    * `dedup_ngram_jaccard` (the MassiveText/Gopher dedup family applies
    * both): c = |A∩B| / min(|A|,|B|), so a short document quoted whole
    * inside a much longer one scores c = 1 while its Jaccard vanishes as
    * the long side grows (the subset-duplication case the symmetric ratio
    * is structurally blind to; spec plants exactly that pair). Same
    * verified-intersection engine, candidates, and salting — only the
    * final ratio differs. */
  def containment(s: SparkSession, dir: String): DataFrame =
    shingleInterPairs(s, dir)
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / least(col("na"), col("nb")), 4).as("containment"))
      .filter(col("containment") >= ContainmentThreshold)

  /** The shared verified-intersection engine behind `ngramJaccard` and
    * `containment`: (doc_a, doc_b, na, nb, inter) for every candidate pair
    * sharing >= 1 shingle (never all pairs).
    *
    * Posting lists key on hash64(shingle), not the shingle string: the
    * inverted index shuffles 8-byte longs — the ship-hashes-not-payloads
    * rule the scale harness forced on minhashVerified (SCALE.md). The
    * hash is the FULL 64-bit md5 half (not the 52-bit salting hash):
    * these longs stand in for set elements, where a collision merges two
    * distinct shingles and inflates the intersection — at web scale a
    * 52-bit space collides routinely (and an intra-doc collision could
    * even self-pair a document); 2^-64 per pair keeps the ratios exact
    * modulo vanishing probability. The oracle hashes identically. */
  private def shingleInterPairs(s: SparkSession, dir: String): DataFrame =
    // the pair store is REGISTRY-SERVED (one posting-list expansion per
    // corpus state; four gated consumers: jaccard, containment, both
    // recall audits)
    AnnModels.shinglePairs(s, dir)

  /** The posting-list pair-verification engine — what
    * AnnModels.shinglePairs runs ONCE per corpus state. */
  private[graft] def shinglePairsOf(s: SparkSession, dir: String): DataFrame = {
    val sh = docs(s, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        array_distinct(ShingleExpressions.shingles(col("text"), ShingleN)).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("gRaw"))
      .select(col("doc_id"), col("n"), hash64(col("gRaw")).as("g"))
    // Inverted index: one shuffle of (shingle -> [docs]) pairs each
    // posting list, then one aggregation counts shared shingles per pair.
    bucketPairs(sh, Seq("g"), "doc_id", struct(col("doc_id"), col("n")), MaxBucket)
      .groupBy(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        col("p.a.n").as("na"), col("p.b.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
  }

  /** Near-dup cluster assignment: connected components over the MinHash-LSH
    * candidate graph, each doc labeled with the minimum doc_id reachable —
    * i.e. "keep one canonical document per near-dup cluster".
    *
    * Iterative min-label propagation: per round, every node takes the min
    * of its own label and its neighbors' labels. Rounds are bounded by the
    * component diameter (near-dup clusters are shallow); each round is two
    * shuffles on the edge list, with localCheckpoint cutting plan lineage —
    * the same alternating-join shape GraphX/connected-components runs at
    * cluster scale. The driver-side loop only reads a convergence count. */
  def clusterAssign(s: SparkSession, dir: String): DataFrame =
    // served (AnnModels.candLabels), the survivorLabels discipline on the
    // candidate graph: the star-contraction loop runs once per corpus
    // state instead of on every read of the suite's heaviest query.
    AnnModels.candLabels(s, dir)

  /** Min-label connected components over an undirected candidate-pair list
    * (the engine behind `clusterAssign` and `survivors`; Multimodal's
    * phash dedup runs the same engine over perceptual-hash pairs).
    *
    * The engine is the two-phase
    * LARGE-STAR / SMALL-STAR alternation (Kiveris et al. 2014, "Connected
    * Components in MapReduce and Beyond") instead of min-label
    * propagation. The structural difference that fixes the measured ×100
    * superlinearity on heavy-merge corpora: propagation re-shuffles the
    * FULL edge list every round for as many rounds as pointer-halved
    * convergence needs, while the star operations REWRITE the edge list —
    * edges inside a collapsing component become star spokes and
    * duplicates/self-loops drop, so later (and most) rounds run on a
    * shrinking edge set and the fixed point is the star forest itself.
    * Same labels by construction (both compute min-id-per-component;
    * parity is spec-pinned against the retained propagation reference on
    * adversarial graph shapes and the corpus itself).
    *
    * large-star: every node u connects its LARGER neighbors to
    * m = min(Γ(u) ∪ {u}); small-star: every node u connects its smaller
    * neighbors (and itself) to m = min(Γ⁻(u) ∪ {u}). Each phase is one
    * groupBy-min plus one join on the current edge set; convergence is
    * detected DIRECTLY (a canonical a<b edge set is the star-forest
    * fixed point iff no node appears as both center and leaf — one
    * semi-join probe per round), so the loop never spends a round
    * re-deriving an unchanged edge set just to observe it. */
  private[graft] def ccLabels(d: DataFrame, pairs: DataFrame): DataFrame = {
    // canonical (a < b) undirected edge set — both phases re-establish it
    var edges = pairs
      .select(least(col("doc_a"), col("doc_b")).as("a"),
        greatest(col("doc_a"), col("doc_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint()
    // Isolated docs can never change label — keep them OUT of the loop
    // (the iteration state is ∝ edge-touched nodes, not the corpus; at
    // 100 TB most documents are singletons).
    val touched = edges.select(col("a").as("doc_id"))
      .unionAll(edges.select(col("b").as("doc_id")))
      .distinct().localCheckpoint()
    def sym(e: DataFrame): DataFrame =
      e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    // large-star: (v, m) for every v ∈ Γ(u) with v > u. NO distinct here:
    // duplicate edges do not change smallStar's mins, and the round-end
    // distinct (smallStar's) restores the canonical set — one shuffle per
    // round saved (the star loop's cost at bench scale is per-round fixed
    // overhead, not data volume).
    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val mins = s.groupBy("u")
        .agg(min(col("v")).as("mnv"))
        .select(col("u"), least(col("u"), col("mnv")).as("m"))
      s.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(least(col("v"), col("m")).as("a"),
          greatest(col("v"), col("m")).as("b"))
        .filter(col("a") =!= col("b"))
    }
    // small-star: orient each edge toward its larger endpoint; that node
    // connects all its smaller neighbors — and itself — to their min
    def smallStar(e: DataFrame): DataFrame = {
      val dir = sym(e).filter(col("v") < col("u"))
      val mins = dir.groupBy("u").agg(min(col("v")).as("m"))
      dir.join(mins, Seq("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .unionAll(mins.select(col("u").as("a"), col("m").as("b")))
        .select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
    }
    // Release a superseded round's localCheckpoint storage explicitly:
    // without this, every round's (shrinking) edge snapshot stays pinned
    // in block storage until the driver GCs the unreferenced DataFrame —
    // peak storage a multiple of the initial candidate list instead of
    // ~2 generations. Safe: the next round is eagerly materialized and
    // the convergence probe has run before the release, so nothing reads
    // the truncated-lineage RDD again.
    def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
    var converged = false
    var iter = 0
    while (!converged && iter < 30) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      // DIRECT fixed-point detection: a canonical (a < b) edge set is a
      // star forest — the alternation's fixed point, min-centered by
      // canonicality — iff (1) no node appears as both a center (a) and a
      // leaf (b) AND (2) every leaf appears in exactly one edge. Condition
      // (1) alone is UNSOUND: a leaf attached to two distinct centers
      // (e.g. edges {(1,5),(2,5)} mid-contraction of one component) passes
      // it while the set is not yet a star forest, and stopping there
      // splits the component. Both conditions fold into ONE aggregation
      // probe per round: per node, count leaf and center appearances;
      // violation ⇔ leafCount > 1 ∨ (leafCount ≥ 1 ∧ centerCount ≥ 1).
      val probe = next.select(col("b").as("x"), lit(1L).as("l"), lit(0L).as("c"))
        .unionAll(next.select(col("a").as("x"), lit(0L).as("l"), lit(1L).as("c")))
        .groupBy("x").agg(sum(col("l")).as("l"), sum(col("c")).as("c"))
      converged = probe
        .filter(col("l") > 1 || (col("l") >= 1 && col("c") >= 1)).isEmpty
      release(edges)
      edges = next
      iter += 1
    }
    // at the fixed point the edge set is a star forest centered on each
    // component's min id: label = min(self, neighbors)
    val labels = sym(edges).groupBy("u")
      .agg(least(col("u"), min(col("v"))).as("cluster_id"))
      .select(col("u").as("doc_id"), col("cluster_id"))
    // singletons rejoin as their own one-doc cluster
    labels.unionAll(
      d.join(touched, Seq("doc_id"), "left_anti")
        .withColumn("cluster_id", col("doc_id")))
  }

  /** The cluster report of a (doc_id, cluster_id) labeling: one row per
    * cluster, its `cluster_id` (the smallest member id, which is the
    * canonical survivor) named `idCol`, with `n_repr`, the number of
    * members it represents. */
  private[graft] def clusterReport(labels: DataFrame, idCol: String): DataFrame =
    labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_repr"))
      .select(col("cluster_id").as(idCol), col("n_repr"))

  /** The keep-best-copy report of a (doc_id, cluster_id, `key`) labeling:
    * per cluster the member with the largest integer `key`, ties to the
    * smallest doc_id. The argmax is `max(struct(key, -doc_id))`, one hash
    * aggregate with no per-cluster window sort. One row per cluster: the
    * kept id named `idCol`, its `key` and the cluster's `n_repr`. */
  private[graft] def keepBest(labeled: DataFrame, key: String, idCol: String): DataFrame =
    labeled.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_repr"),
        max(struct(col(key), (-col("doc_id")).as("nv"))).as("k"))
      .select((-col("k.nv")).as(idCol), col(s"k.$key").as(key), col("n_repr"))

  /** The pre-r12 min-label propagation engine, RETAINED AS THE PARITY
    * REFERENCE for [[ccLabels]]'s star rewrite (spec-only): per round
    * every edge-touched node takes the min of its own, its neighbors' and
    * its label's label (path halving), over the full edge list. Correct
    * and convergent, but every round shuffles the whole edge list — the
    * measured ×100 superlinearity the star alternation removes. */
  private[graft] def ccLabelsPropagate(d: DataFrame, pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint()
    val touched = edges.select(col("src").as("doc_id")).distinct().localCheckpoint()
    var labels = touched.withColumn("cluster_id", col("doc_id")).localCheckpoint()
    // Labels only ever decrease, so the label sum is a strict convergence
    // witness — one cheap aggregation per round instead of a self-join diff.
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("cluster_id")), lit(0L))).collect().head.getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < 20) {
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("dst_id"), col("cluster_id").as("dst_label")),
          col("dst") === col("dst_id"))
        .groupBy(col("src")).agg(min(col("dst_label")).as("nmin"))
      val labelOfLabel = labels
        .join(labels.select(col("doc_id").as("p_id"), col("cluster_id").as("p_label")),
          col("cluster_id") === col("p_id"))
        .select(col("doc_id").as("j_id"), col("p_label"))
      val next = labels
        .join(neighborMin, labels("doc_id") === neighborMin("src"), "left")
        .join(labelOfLabel, labels("doc_id") === col("j_id"), "left")
        .select(labels("doc_id"),
          least(col("cluster_id"),
            coalesce(col("nmin"), col("cluster_id")),
            coalesce(col("p_label"), col("cluster_id"))).as("cluster_id"))
        .localCheckpoint()
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      iter += 1
    }
    labels.unionAll(
      d.join(touched, Seq("doc_id"), "left_anti")
        .withColumn("cluster_id", col("doc_id")))
  }

  /** Label blocks are COARSE — a block holds corpus/|labels| vectors, so an
    * unsalted label self-join is an unbounded quadratic at 100 TB (think
    * "en" as a label). Cap sized above the organic block sizes of every
    * test corpus (max observed: 218 at sf0.1). */
  val LabelCap = 256

  /** Embedding-cosine near-dup pairs, blocked by `label` (stand-in for any
    * coarse clustering key at scale). Double-precision left-to-right dot.
    *
    * The block self-join runs over [[boundedBuckets]] at [[LabelCap]] —
    * the same salted-bucket policy as every other candidate path — so
    * pairs join only within a (label, salt) group: a self-join, not a
    * collected list, because each side carries its embedding. */
  def embeddingNearDup(s: SparkSession, dir: String): DataFrame =
    // served (AnnModels.embedPairs): the embedding near-dup pair table is
    // the SemDeDup-style relation a deployment persists nightly, so the
    // salted block self-join does not re-run per invocation.
    AnnModels.embedPairs(s, dir)

  private[graft] def embedPairsOf(s: SparkSession, dir: String): DataFrame = {
    val (bounded, _) = boundedBuckets(Tables.load(s, dir, "embeddings"),
      Seq("label"), "vec_id", LabelCap)
    bounded.as("a")
      .join(bounded.as("b"), col("a.label") === col("b.label") &&
        col("a.salt") === col("b.salt") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(cosineSim(col("a.embedding"), col("b.embedding")), 4).as("cos"))
      .filter(col("cos") >= CosineThreshold)
  }

  /** Skew-guarded LSH candidate generation (the implementation behind the
    * gated `minhashLsh`): (band, h) buckets paired under the shared
    * salted-bucket policy ([[bucketPairs]]) at `maxBucket`. Dense buckets
    * are exactly the near-dup-dense regions dedup exists for; dropping
    * them (the round-1/2 policy here) silently disconnected the densest
    * duplicate clusters from `clusterAssign`. */
  def minhashLshCapped(s: SparkSession, dir: String, maxBucket: Int): DataFrame = {
    bucketPairs(bandedSignatures(s, dir), Seq("band", "h"), "doc_id", col("doc_id"), maxBucket)
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()
  }

  /** Rows-per-band for the banded LSH variant (AND-amplification). */
  val BandRows = 2

  /** Banded MinHash-LSH (b=4 bands x r=2 rows): a pair is a candidate only
    * if BOTH minhashes of some band agree — the precision knob of the
    * classic banding construction (`minhashLsh` is the r=1 recall-leaning
    * layout; real deployments tune b x r to the target Jaccard threshold).
    * The bucket key is the minhash value pair itself (band, h1, h2) — no
    * re-hashing, and by construction the candidate set is a subset of the
    * UNCAPPED r=1 candidates (spec-asserted). The caveat matters: each
    * path salts its own bucket granularity, so on a degenerate corpus the
    * salted sets are not nested. Same single-scan, salted-bucket,
    * pairs-only shape as the r=1 path. */
  def minhashLshBanded(s: SparkSession, dir: String): DataFrame =
    // served (AnnModels.bandedPairs), the candPairs discipline on the b×r
    // banding: the signature pass + bucket census + pair explode are a
    // pure function of corpus + constants, not per-invocation work.
    AnnModels.bandedPairs(s, dir)

  private[graft] def bandedPairsOf(s: SparkSession, dir: String): DataFrame = {
    val nBands = MinhashPerms / BandRows
    val bb = docs(s, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        ShingleExpressions.minhashSig(col("text"), MinhashPerms, ShingleN).as("sig"))
      .filter(size(col("sig")) > 0)
      .select(col("doc_id"), explode(array((0 until nBands).map(b => struct(
        lit(b).as("band"),
        element_at(col("sig"), 2 * b + 1).as("h1"),
        element_at(col("sig"), 2 * b + 2).as("h2"))): _*)).as("t"))
      .select(col("doc_id"), col("t.band").as("band"),
        col("t.h1").as("h1"), col("t.h2").as("h2"))
    bucketPairs(bb, Seq("band", "h1", "h2"), "doc_id", col("doc_id"), MaxBucket)
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()
  }

  /** The canonical MinHash-LSH dedup pipeline: LSH candidates VERIFIED by
    * exact n-gram Jaccard — the 100 TB near-dup operator. `minhashLsh`
    * bounds the candidate volume (bucketed + salted, never all-pairs);
    * verification then joins each candidate id pair back to the two
    * documents' distinct-shingle sets and computes the exact set Jaccard,
    * so verification cost is proportional to CANDIDATES, not corpus^2 (and
    * unlike `ngramJaccard`'s inverted index, no posting-list expansion at
    * all — the shingle arrays ship once per candidate partner). */
  def minhashVerified(s: SparkSession, dir: String): DataFrame =
    AnnModels.verifiedPairs(s, dir)

  /** The verification chain itself — what AnnModels.verifiedPairs runs
    * ONCE per corpus state (the relation is multi-consumer — the gated
    * verified query, the source-overlap matrix, and the survivor-label
    * trainer all read it — so it is served per the SURVEY §16.8
    * invariant). */
  private[graft] def verifiedPairsOf(s: SparkSession, dir: String): DataFrame = {
    // Candidate pairs are bounded by LSH design — materialize them once
    // (localCheckpoint, like ccLabels' edge list) so the id set and the two
    // verification joins don't re-run candidate generation.
    val p = minhashLsh(s, dir).localCheckpoint()
    val candIds = p.select(col("doc_a").as("doc_id"))
      .unionAll(p.select(col("doc_b").as("doc_id"))).distinct()
    // Semi-join reduction BEFORE the pair joins: only candidate documents'
    // shingle sets are materialized, so the arrays that shuffle are
    // candidate-sized, not corpus-sized — the difference between verifying
    // 0.1% near-dups and re-shuffling 100 TB twice. The sets ship as
    // 64-bit HASHES (the full md5 half — set elements need the full-width
    // hash; a 52-bit collision would merge distinct shingles and inflate
    // the intersection, expected at web-scale shingle counts), not shingle
    // strings: the joined arrays shrink ~3x and the per-pair intersection
    // compares longs instead of strings — at the x100 scale-stress size
    // this is the difference between a linear verify and a wide-row sort
    // spill. The Jaccard is exact modulo 2^-64 collisions, and the oracle
    // applies the same per-element hash.
    val shd = docs(s, dir)
      .select(col("doc_id"),
        array_distinct(ShingleExpressions.shingles(col("text"), ShingleN)).as("dshRaw"))
      .filter(size(col("dshRaw")) > 0)
      .select(col("doc_id"), transform(col("dshRaw"), x => hash64(x)).as("dsh"))
      .join(candIds, Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val inter = size(array_intersect(col("dsha"), col("dshb")))
    p
      .join(shd.select(col("doc_id").as("doc_a"), col("dsh").as("dsha")), Seq("doc_a"))
      .join(shd.select(col("doc_id").as("doc_b"), col("dsh").as("dshb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(inter.cast("double") / (size(col("dsha")) + size(col("dshb")) - inter), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
  }

  /** Signature-agreement Jaccard ESTIMATE per LSH candidate pair — the
    * component-match estimator deployments run when even candidate-bounded
    * exact verification is too expensive: with k independent min-wise
    * hashes, P[sig_a[i] = sig_b[i]] = J(a,b), so matches/k is an unbiased
    * estimate of the true Jaccard (Broder 1997, "On the resemblance and
    * containment of documents") whose error is the binomial
    * sqrt(J(1-J)/k). Where `minhashVerified` ships each candidate's full
    * distinct-shingle hash set, this ships only the k-long signature the
    * LSH pass already computed — per-candidate cost is O(k), independent
    * of document length, which at 100 TB is the difference between
    * re-touching document content and never reading it again (the same
    * signatures could be served from the persisted `lshIndexOf` parquet).
    * The spec asserts the binomial error band against the exact verified
    * Jaccard on the shared candidate set. */
  def minhashEstimate(s: SparkSession, dir: String): DataFrame = {
    val p = minhashLsh(s, dir) // an artifact scan - no recompute
    // risk for the multi-branch plan, and skipping the checkpoint saves a
    // materialization job per invocation (re-reads are parquet scans)
    // the candidate signature relation is served too: the per-invocation
    // text re-scan + minhash re-hash would be the query's remaining cost
    // for a relation that changes only with the corpus (the candPairs
    // discipline one layer down).
    val sigs = AnnModels.candSigs(s, dir)
    val matches = aggregate(
      zip_with(col("siga"), col("sigb"), (x, y) => (x === y).cast("int")),
      lit(0), (a, v) => a + v)
    p.join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("siga")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sigb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), matches.as("m"))
      .select(col("doc_a"), col("doc_b"), col("m").cast("int").as("n_match"),
        round(col("m").cast("double") / MinhashPerms, 4).as("est_jaccard"))
  }

  /** The candidate-doc SIGNATURE relation (doc_id, sig) — what
    * [[graft.operators.AnnModels.candSigs]] builds once per corpus state:
    * semi-join reduction first (minhashVerified's discipline), so only
    * candidate documents' signatures materialize and shuffle. */
  private[graft] def candSigsOf(s: SparkSession, dir: String): DataFrame = {
    val p = minhashLsh(s, dir)
    val candIds = p.select(col("doc_a").as("doc_id"))
      .unionAll(p.select(col("doc_b").as("doc_id"))).distinct()
    docs(s, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        ShingleExpressions.minhashSig(col("text"), MinhashPerms, ShingleN).as("sig"))
      .filter(size(col("sig")) > 0)
      .join(candIds, Seq("doc_id"), "left_semi")
  }

  /** The candidate-doc WEIGHTED shingle-count relation (doc_id, g, c) —
    * what [[graft.operators.AnnModels.candGramCounts]] builds once per
    * corpus state: the multiset verifier's per-doc counts, materialized
    * only for candidate documents (semi-join reduction). Elements ship as
    * full 64-bit hashes — same collision budget as the set verifier. */
  private[graft] def candGramCountsOf(s: SparkSession, dir: String): DataFrame = {
    val p = minhashLsh(s, dir)
    val candIds = p.select(col("doc_a").as("doc_id"))
      .unionAll(p.select(col("doc_b").as("doc_id"))).distinct()
    docs(s, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), ShingleExpressions.shingles(col("text"), ShingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(col("sh")).as("x"))
      .select(col("doc_id"), hash64(col("x")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
  }

  /** tf-WEIGHTED Jaccard over the LSH candidate set — the multiset view
    * the distinct-set verifier discards. For integer shingle counts a, b,
    *   J_w = Σ_g min(a_g, b_g) / Σ_g max(a_g, b_g)
    * is exactly the plain Jaccard of the replica-expanded sets (each
    * shingle g repeated count(g) times), i.e. weighted resemblance in
    * Broder's multiset formulation — the similarity boilerplate-heavy and
    * template-heavy corpora actually need: a doc that repeats one shared
    * paragraph five times looks near-identical to a single-copy partner
    * under distinct-set Jaccard, while the multiset view discounts the
    * unmatched replicas (min picks up 1 copy, max all 5).
    *
    * Scale shape = `minhashVerified`'s: candidates bound everything. The
    * per-doc count relation (doc_id, g, c) materializes only for candidate
    * docs (semi-join reduction), Σmax never materializes per-shingle —
    * Σmax = tot_a + tot_b − Σmin with tot a per-doc scalar — and the pair
    * join streams (pair, g) rows that the (doc_b, g) hash join prunes to
    * the intersection, so per-pair cost is O(|doc|) narrow long rows, the
    * same asymptotic bill as shipping the hashed arrays. Elements ship as
    * full 64-bit hashes for the same collision budget as the set verifier. */
  def weightedJaccard(s: SparkSession, dir: String): DataFrame = {
    val p = minhashLsh(s, dir) // an artifact scan - no recompute
    // risk for the multi-branch plan, and skipping the checkpoint saves a
    // materialization job per invocation (re-reads are parquet scans)
    // the per-doc count relation is served too: the candidate-bounded
    // text re-shingle + hash + count would re-run per invocation for a
    // relation that changes only with the corpus; the
    // three consumers below (Σmin, tot_a, tot_b) are artifact scans now,
    // so the localCheckpoint goes with it.
    val cnt = AnnModels.candGramCounts(s, dir)
    val tot = cnt.groupBy("doc_id").agg(sum(col("c")).as("tot"))
    val summin = p
      .join(cnt.select(col("doc_id").as("doc_a"), col("g"), col("c").as("ca")), Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"), col("g"), col("c").as("cb")),
        Seq("doc_b", "g"))
      .groupBy("doc_a", "doc_b").agg(sum(least(col("ca"), col("cb"))).as("summin"))
    // Every join off the candidate spine is LEFT + coalesce(0): a candidate
    // doc with no shingle counts scores 0 instead of silently vanishing
    // (today unreachable — LSH candidates always have shingles — but the
    // relation stays total if candidate generation ever changes).
    val denom = col("tota") + col("totb") - col("summin")
    p.join(summin, Seq("doc_a", "doc_b"), "left")
      .withColumn("summin", coalesce(col("summin"), lit(0L)))
      .join(tot.select(col("doc_id").as("doc_a"), col("tot").as("tota")), Seq("doc_a"), "left")
      .withColumn("tota", coalesce(col("tota"), lit(0L)))
      .join(tot.select(col("doc_id").as("doc_b"), col("tot").as("totb")), Seq("doc_b"), "left")
      .withColumn("totb", coalesce(col("totb"), lit(0L)))
      .select(col("doc_a"), col("doc_b"), col("summin"),
        // floor(x*1e4+0.5): house rounding rule (engine round() diverges
        // on halves, and Σmin/Σmax is a small-int rational that can hit one)
        when(denom === 0L, lit(0.0)).otherwise(
          floor(col("summin").cast("double") / denom * 1e4 + 0.5) / 1e4)
          .as("w_jaccard"))
  }

  /** End-to-end dedup: the surviving corpus after exact AND near-dup
    * removal — one row per kept (canonical) document with the number of
    * documents it represents. Edges = VERIFIED near-dup pairs (exact
    * n-gram Jaccard over the LSH candidates — raw candidates over-merge:
    * docs sharing any single minhash chain whole sources into one cluster)
    * UNION exact-hash star edges (canonical -> every identical copy). The
    * exact edges matter under salting: identical docs split across salt
    * groups are not LSH pairs, but the hash star reconnects them, so a
    * duplicate set always collapses to ONE survivor regardless of bucket
    * density. `clusterAssign` stays the candidate-graph view; this is the
    * verified corpus-level answer. */
  def survivors(s: SparkSession, dir: String): DataFrame =
    clusterReport(AnnModels.survivorLabels(s, dir), "doc_id")

  /** The verified-graph CC labeling behind [[survivors]] — (doc_id,
    * cluster_id) for every document, edges = verified near-dup pairs ∪
    * exact-hash stars. This is THE nightly persisted relation of a dedup
    * deployment (the canonical-set table every downstream curation join
    * consumes), so it lives in the model registry (AnnModels
    * .survivorLabels): the iterative CC chain runs once per corpus state
    * and `dedup_survivors`, `pipeline_curate_neardup` and all three build
    * capstones read the artifact. Labeling is deterministic (min-label
    * propagation to a fixpoint) and parquet round-trips longs exactly, so
    * artifact-served output is bit-identical to inline (spec). */
  private[operators] def survivorLabelsOf(s: SparkSession, dir: String): DataFrame = {
    val hx = docs(s, dir).select(col("doc_id"), md5Hex(col("text")).as("h"))
    val canon = hx.groupBy("h").agg(min(col("doc_id")).as("canon"))
    val exactPairs = hx.join(canon, Seq("h"))
      .filter(col("doc_id") =!= col("canon"))
      .select(col("canon").as("doc_a"), col("doc_id").as("doc_b"))
    ccLabels(docs(s, dir).select(col("doc_id")),
      minhashVerified(s, dir).select(col("doc_a"), col("doc_b")).unionAll(exactPairs))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means-cluster the
    * embedding space, then remove near-duplicate pairs only WITHIN each
    * learned cluster, keeping one canonical vector per semantic-duplicate
    * group. The clustering is the SAME trained coarse quantizer as
    * sim_ann_ivf (one model, two consumers — exactly how production
    * pipelines amortize the k-means); within-cluster pairs run under the
    * shared salted-bucket policy at LabelCap, as dedup_embedding — learned
    * cent_id simply replaces the static label column; the duplicate
    * groups are connected components over the thresholded pairs. Output:
    * one row per surviving canonical vector with its representation
    * count.
    *
    * The paper deduplicates at cosine ~0.95 on web embeddings; the test
    * corpus shares `CosineThreshold` so the synthetic embeddings yield a
    * non-trivial pair set for the oracle parity check. */
  def semanticDedup(s: SparkSession, dir: String): DataFrame =
    clusterReport(AnnModels.semanticLabels(s, dir), "vec_id")

  /** The SemDeDup labeling trainer — CC labels over within-cluster
    * verified near-dup pairs. Gated queries serve the registry artifact
    * ([[AnnModels.semanticLabels]] — the survivorLabels pattern on the
    * embedding column), which this chain builds. The salted pair join
    * reads the SERVED assignment (narrow — no embedding column) and
    * re-attaches vectors by id-equijoin only where the cosine needs
    * them. */
  private[graft] def semanticLabelsOf(s: SparkSession, dir: String): DataFrame = {
    val assign = AnnModels.ivfAssign(s, dir)
      .join(Tables.load(s, dir, "embeddings"), Seq("vec_id"))
      .select(col("vec_id"), col("cent_id"), col("embedding"))
    val (bounded, _) = boundedBuckets(assign, Seq("cent_id"), "vec_id", LabelCap)
    val pairs = bounded.as("a")
      .join(bounded.as("b"), col("a.cent_id") === col("b.cent_id") &&
        col("a.salt") === col("b.salt") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"),
        round(cosineSim(col("a.embedding"), col("b.embedding")), 4).as("cos"))
      .filter(col("cos") >= CosineThreshold)
      .select(col("doc_a"), col("doc_b"))
    ccLabels(
      Tables.load(s, dir, "embeddings").select(col("vec_id").as("doc_id")), pairs)
  }

  /** SemDeDup with the PAPER'S keep rule (Abbas et al. 2023 §2 keep the
    * point "with the highest cosine similarity to the cluster centroid"):
    * within each semantic-duplicate group the survivor is the member
    * NEAREST its assigned centroid (not `semanticDedup`'s min-id canonical
    * — that variant is the CC-canonical view; this one is citation-exact).
    * Proximity reuses the `ccos` the quantizer's assignment pass already
    * computed (one model, one assignment, three consumers). The
    * [[keepBest]] key is an INTEGER (ccos is round(cos,4); x1e4 half-up
    * makes the ordering engine-portable, no -0.0/double-comparator edge). */
  def semanticDedupKeep(s: SparkSession, dir: String): DataFrame =
    keepBest(AnnModels.semanticLabels(s, dir).join(
      AnnModels.ivfAssign(s, dir).select(col("vec_id").as("doc_id"),
        floor(col("ccos") * 1e4 + 0.5).cast("long").as("cc4")), Seq("doc_id")),
      "cc4", "vec_id")
      .select(col("vec_id"), col("n_repr"))

  /** Word-window size for the repeated-passage audit (Lee et al. 2022 use
    * 50-BPE-token windows at corpus scale; 5 words fits the test corpus'
    * 8-100-token documents while keeping the same construction). */
  val SubstrGram = 5

  /** Cross-document repeated-passage audit — the exact-substring dedup
    * signal of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"): a document's W-word windows that also occur in ANOTHER
    * document are duplicated passages (boilerplate, licenses, syndicated
    * text) that document-level dedup cannot see when the surrounding text
    * differs. Output: per-doc window count, duplicated-window count, ratio.
    *
    * Scale: windows never shuffle as text — each (doc, window) reduces
    * map-side to (doc_id, md5) and pre-aggregates to per-doc multiplicity;
    * cross-doc occurrence is a second aggregate over one row per distinct
    * (doc, window); the flag joins back on the 32-byte hash. A corpus-wide
    * boilerplate window (the skew case) is ONE row in the census join —
    * heavy keys concentrate counts, not rows, so there is no quadratic or
    * windowed-buffer hazard anywhere (contrast the pair-generating paths
    * above, which need salting because they EXPAND buckets). */
  def substringDup(s: SparkSession, dir: String): DataFrame =
    // served (AnnModels.substrStats): the per-doc duplicated-window stats
    // are the audit a dedup deployment persists next to its pair tables,
    // so the full-corpus window explode does not re-run per invocation.
    AnnModels.substrStats(s, dir)

  private[graft] def substrStatsOf(s: SparkSession, dir: String): DataFrame = {
    val g = docs(s, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        explode(ShingleExpressions.shingles(col("text"), SubstrGram)).as("g"))
      // xxhash64 (codegen'd, 8-byte keys): the hash never reaches the
      // output — it only DEFINES window-equality groups, so any injective-
      // in-practice hash yields the oracle's groups (the oracle keys on
      // md5; both collapse iff the texts are equal). One-sided risk, same
      // as the minhash band hashes: a 64-bit collision over-marks a window
      // as duplicated at ~2^-64 per pair.
      .select(col("doc_id"), xxhash64(col("g")).as("gh"))
    // Materialize the compact per-(doc, window) relation once
    // (localCheckpoint, as in minhashVerified): both the census and the
    // join-back consume it, and without the cut Spark re-runs the
    // scan+explode+md5 pipeline for each branch — measured ~2x the cost.
    val perDoc = g.groupBy("doc_id", "gh").agg(count(lit(1)).as("occ"))
      .localCheckpoint()
    // perDoc is unique per (doc, gh), so count(*) counts distinct documents.
    val docsPerGram = perDoc.groupBy("gh").agg(count(lit(1)).as("ndocs"))
    perDoc.join(docsPerGram, Seq("gh"))
      .groupBy("doc_id")
      .agg(sum(col("occ")).as("n_windows"),
        sum(when(col("ndocs") >= 2, col("occ")).otherwise(lit(0L))).as("n_dup_windows"))
      .withColumn("dup_ratio",
        floor(col("n_dup_windows").cast("double") / col("n_windows") * 1e6 + 0.5) / 1e6)
  }

  /** Report size of the boilerplate census. */
  val BoilerplateK = 20

  /** Corpus boilerplate census — the TOP-K most cross-document-duplicated
    * W-word windows, with document/occurrence counts resolved back to the
    * window TEXT: the report a data engineer reads to learn WHAT the
    * duplicated passages are (license headers, navigation chrome,
    * syndicated text) before `substringRemove` excises them.
    *
    * Scale: ONE heavy corpus pass (r13; the join-back form scanned and
    * re-shingled the full corpus three times — exchange reuse does not
    * fire across its differing projections). The pass is hash-only and
    * fully HashAggregate (every key and buffer fixed-width or 32-char;
    * carrying the window TEXT through either aggregate — as a first/min
    * BUFFER or as a group KEY — measured ~2x slower: the former demotes
    * the chain to three full SortAggregate passes, the latter doubles
    * hash-map and shuffle bytes). Text is resolved AFTERWARDS from
    * exemplar documents: the census records min(doc_id) per window (a
    * fixed-width buffer), the K winners' exemplar ids — a bounded,
    * ≤K-element driver value, same discipline as the broadcast model
    * artifacts — become a pushed-down In filter on a second documents
    * scan that re-shingles only those ≤K documents. The global top-k
    * plans as TakeOrderedAndProject — bounded per-partition heaps merged
    * on the driver, never a full sort of the census. Ranking ties break
    * on the hash, so the report is deterministic. */
  def boilerplateTopK(s: SparkSession, dir: String): DataFrame =
    // served (AnnModels.boilerTop): the K-row boilerplate report is
    // exactly the artifact a data engineer reads before substringRemove
    // runs, so the full census pass does not re-run per invocation.
    AnnModels.boilerTop(s, dir)

  private[graft] def boilerTopOf(s: SparkSession, dir: String): DataFrame = {
    // K rows; localCheckpoint so the exemplar-id read and the final join
    // share ONE census execution
    val top = boilerplateCensusTop(s, dir).localCheckpoint()
    val exIds = top.select("exdoc").distinct().collect().map(_.getLong(0))
    val winText = docs(s, dir)
      .filter(col("doc_id").isin(exIds.toSeq: _*))
      .select(explode(ShingleExpressions.shingles(col("text"), SubstrGram)).as("g"))
      .select(md5Hex(col("g")).as("gh"), col("g").as("win_text"))
      .distinct()
    top.join(winText, Seq("gh"))
      .select(col("win_text"), col("n_docs"), col("n_occurrences"))
  }

  /** The census top-K BEFORE materialization — the single heavy pass of
    * [[boilerplateTopK]], exposed unmaterialized so the plan spec can
    * assert the bounded-heap take (in the executed operator the
    * localCheckpoint hides this stage behind a row scan). */
  private[graft] def boilerplateCensusTop(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        explode(ShingleExpressions.shingles(col("text"), SubstrGram)).as("g"))
      .select(col("doc_id"), md5Hex(col("g")).as("gh"))
      .groupBy("doc_id", "gh").agg(count(lit(1)).as("occ"))
      .groupBy("gh")
      .agg(count(lit(1)).as("n_docs"), sum(col("occ")).as("n_occurrences"),
        min(col("doc_id")).as("exdoc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occurrences").desc, col("gh").asc)
      .limit(BoilerplateK)

  /** Exact-substring REMOVAL — the operator the `substringDup` audit
    * prepares for (Lee et al. 2022 §4.1 ExactSubstr: "we remove from the
    * dataset" every duplicated span): emit each document's text with every
    * token covered by a cross-document duplicated window excised.
    * Overlapping duplicated windows merge naturally — a token survives iff
    * NO duplicated window covers it — so abutting boilerplate spans excise
    * as one contiguous cut. Output: per-doc token counts and the cleaned
    * text itself.
    *
    * Scale: the census side is `substringDup`'s shape — windows shuffle as
    * (doc_id, position, md5), a corpus-wide boilerplate window is ONE
    * census row. The only extra state is the per-doc duplicated-POSITION
    * set (bounded by the doc's own window count, never corpus-sized),
    * which joins back on doc_id; the rebuild is then a per-row
    * codegen'd filter over the token array — text never shuffles. */
  /** The cross-document duplicated WINDOW-START relation (doc_id, pos) —
    * the shared census product behind [[substringRemove]], [[dupSpans]]
    * and both span reports; what AnnModels.dupStarts builds once per
    * corpus state: posexplode windows, xxhash64 group keys
    * (group-defining only — see substringDup), the >= 2-docs census, and
    * the semi-join back to positions. */
  private[graft] def dupStartsOf(s: SparkSession, dir: String): DataFrame = {
    val g = docs(s, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        posexplode(ShingleExpressions.shingles(col("text"), SubstrGram)).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), xxhash64(col("g")).as("gh"))
      .localCheckpoint() // census + position join-back both consume it
    // perDoc-distinct then count(*) == docs-per-window (substringDup's rule)
    val dupG = g.select(col("doc_id"), col("gh")).distinct()
      .groupBy("gh").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select("gh")
    g.join(dupG, Seq("gh"), "left_semi")
      .select(col("doc_id"), col("pos")).distinct()
  }

  def substringRemove(s: SparkSession, dir: String): DataFrame = {
    val w = SubstrGram
    // the duplicated-start relation is served (AnnModels.dupStarts), so
    // the full-corpus window explode + census run once for all four
    // substring consumers; only the text rebuild scans documents.
    val dps = AnnModels.dupStarts(s, dir)
      .groupBy("doc_id").agg(sort_array(collect_set(col("pos"))).as("dps"))
    // token j (1-based) survives iff no duplicated window start i covers it.
    // toks is a MATERIALIZED column: higher-order functions are interpreted,
    // so an element_at(split(...), j) lambda body would re-split the whole
    // document once per surviving token — O(tokens^2) per doc.
    val toks = col("toks")
    val dcol = coalesce(col("dps"), array().cast("array<int>"))
    docs(s, dir).join(dps, Seq("doc_id"), "left")
      .withColumn("toks", wsTokens(col("text")))
      .withColumn("kept", filter(sequence(lit(1), size(toks)),
        j => !exists(dcol, i => i <= j && j <= i + lit(w - 1))))
      .select(col("doc_id"),
        size(toks).as("n_tokens"),
        (size(toks) - size(col("kept"))).as("n_removed"),
        array_join(transform(col("kept"), j => element_at(toks, j)), " ")
          .as("text_clean"))
  }

  /** MAXIMAL duplicated-SPAN audit (r13, the observability surface of Lee
    * et al. 2022 §4.1's ExactSubstr: the suffix-array formulation removes
    * maximal duplicated spans of any length — this reports exactly those
    * spans from the window-coverage union [[substringRemove]] already
    * computes): per document, the duplicated w-gram windows' coverage
    * intervals [p, p+w−1] merge into maximal spans (two windows merge iff
    * the later start is within w of the earlier — overlapping OR abutting
    * coverage), and the report is span count, longest span length, total
    * covered tokens and the covered share (1e6 grid). covered_tokens is
    * BY CONSTRUCTION substringRemove's n_removed (the same union —
    * spec-asserted), so a data engineer reads WHAT the removal took
    * before running it.
    *
    * Scale: the census side is substringDup's shape; the span merge is
    * one lag + running-sum window PARTITIONED BY doc_id over duplicated
    * POSITIONS only — bounded by the doc's own window count, never
    * corpus-sized. */
  def substringSpans(s: SparkSession, dir: String): DataFrame = {
    val spans = dupSpans(s, dir)
      .select(col("doc_id"), (col("sp_end") - col("sp_start") + 1).as("span_len"))
    val perDoc = spans.groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_spans"),
        max(col("span_len")).cast("int").as("max_span_len"),
        sum(col("span_len")).cast("int").as("covered_tokens"))
    docs(s, dir)
      .select(col("doc_id"), size(wsTokens(col("text"))).as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0)).as("n_spans"),
        coalesce(col("max_span_len"), lit(0)).as("max_span_len"),
        coalesce(col("covered_tokens"), lit(0)).as("covered_tokens"))
      .withColumn("covered_share6",
        expr("CAST(covered_tokens AS BIGINT) * 1000000 DIV n_tokens"))
  }

  /** The merged maximal duplicated-span relation (doc_id, sp_start,
    * sp_end), 1-based inclusive token intervals — the census + coverage
    * merge shared by [[substringSpans]] (reports span statistics) and
    * [[substringRemoveSpans]] (excises qualifying spans). Shape: the
    * census side is substringDup's; the merge is one lag + running-sum
    * window PARTITIONED BY doc_id over duplicated positions only —
    * bounded by the doc's own window count, never corpus-sized. */
  private[graft] def dupSpans(s: SparkSession, dir: String): DataFrame = {
    val w = SubstrGram
    // rides the served duplicated-start relation (see substringRemove)
    // — the span merge below runs over positions only, never text.
    val dps = AnnModels.dupStarts(s, dir)
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dps
      .withColumn("prev", lag(col("pos"), 1).over(wOrd))
      .withColumn("ns",
        when(col("prev").isNull || col("pos") - col("prev") > w, 1).otherwise(0))
      .withColumn("span_id",
        sum(col("ns")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "span_id")
      .agg(min(col("pos")).as("sp_start"),
        (max(col("pos")) + w - 1).as("sp_end"))
      .select(col("doc_id"), col("sp_start"), col("sp_end"))
  }

  /** Minimum qualifying span length (tokens) for thresholded removal:
    * Lee et al. 2022 §4.1 remove duplicated spans of >= 50 tokens — at
    * their 50-token detection windows the bar is implicit (any duplicated
    * window already is one). At the test corpus's SubstrGram=5 windows
    * the same rule needs an explicit bar; 2x the window keeps incidental
    * 5-gram collisions (stock phrases) while excising real boilerplate. */
  val MinSpanLen = 10

  /** Length-THRESHOLDED maximal-span removal — the production form of
    * Lee et al. 2022 §4.1's ExactSubstr rule ("remove duplicated spans
    * >= 50 tokens"): [[substringRemove]] excises EVERY duplicated
    * window's coverage, which at small detection windows also takes
    * stock phrases and idioms; this variant composes [[dupSpans]]'
    * merged maximal spans with the keep-flag rebuild and excises only
    * spans of at least [[MinSpanLen]] tokens, so a short duplicated
    * window survives while a syndicated passage is cut.
    *
    * Scale: identical to substringRemove — the only extra state is the
    * per-doc QUALIFYING span list (bounded by the doc's own window
    * count), which joins back on doc_id; the rebuild is a per-row
    * codegen'd filter over the token array; text never shuffles. */
  def substringRemoveSpans(s: SparkSession, dir: String): DataFrame = {
    val qual = dupSpans(s, dir)
      .filter(col("sp_end") - col("sp_start") + 1 >= MinSpanLen)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("sp_start"), col("sp_end"))).as("sps"))
    val toks = col("toks")
    val scol = coalesce(col("sps"),
      array().cast("array<struct<sp_start:int,sp_end:int>>"))
    docs(s, dir).join(qual, Seq("doc_id"), "left")
      .withColumn("toks", wsTokens(col("text")))
      .withColumn("kept", filter(sequence(lit(1), size(toks)),
        j => !exists(scol,
          sp => sp.getField("sp_start") <= j && j <= sp.getField("sp_end"))))
      .select(col("doc_id"),
        size(toks).as("n_tokens"),
        (size(toks) - size(col("kept"))).as("n_removed"),
        array_join(transform(col("kept"), j => element_at(toks, j)), " ")
          .as("text_clean"))
  }

  /** Incremental ingestion dedup: which docs in the new batch (source
    * 'src0') are NOT already in the corpus (all other sources)? Anti-join
    * on content hash — the nightly-ingest shape: the corpus side reduces
    * to a distinct-hash build, never full text. */
  def incremental(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val corpusHashes = d.filter(col("source") =!= "src0")
      .select(md5Hex(col("text")).as("h")).distinct()
    d.filter(col("source") === "src0")
      .withColumn("h", md5Hex(col("text")))
      .join(corpusHashes, Seq("h"), "left_anti")
      .select(col("doc_id"), col("source"))
  }

  // --- the salted-bucket skew policy ---------------------------------------

  /** ceil(bn/cap) salt groups of a census-joined bucket row; 1 for a
    * bucket under the cap (absent from the dense census). */
  private def saltGroups(cap: Int): Column =
    coalesce(expr(s"(bn + ${cap - 1L}) DIV ${cap.toLong}"), lit(1L))

  /** The largest (keys, salt) group the policy keeps. */
  private def groupBound(cap: Int): Long = 2L * cap

  /** The ONE salted-bucket skew policy every candidate path shares —
    * minhash r=1 and banded buckets, simhash/phash/audio pigeonhole
    * blocks, shingle posting lists, embedding labels and IVF cells,
    * knn-graph buckets, the persisted LSH and phash indexes. Each expands
    * a bucket into its pairs, and a dense bucket (boilerplate, empty-ish
    * docs, a whole embedding cluster) expands quadratically on one task.
    *  - Census: `groupBy(keys).count()` keeping only buckets over `cap`,
    *    broadcast back with a left join. Map-side partial aggregation, so
    *    rows never move to be counted; a `count over
    *    Window.partitionBy(keys)` would buffer each dense bucket on one
    *    task before the salt exists, re-concentrating the skew it defuses.
    *  - Salt: a bucket of bn > cap rows splits into ceil(bn/cap) groups by
    *    `pmod(hash52(id), ceil(bn/cap))`; a bucket under the cap is one
    *    group. hash52 is uniform under any id layout, so strided ids cannot
    *    collapse a bucket into one group the way raw id-mod salting could.
    *  - 2×cap net: hash splits still fluctuate, and a single-hash pile-up
    *    cannot be spread at all, so a (keys, salt) group above 2×cap rows
    *    is dropped ([[boundedBuckets]], [[bucketPairs]]).
    * Pairs expand only within a group: per-group quadratic work stays
    * under (2·cap)²/2 and every doc of a dense bucket keeps ~cap in-group
    * partners. Cross-salt pairs are forgone — a bounded recall trade,
    * never a silent loss of the near-dup-dense regions dedup exists for.
    * Each cap sits above every organic bucket of the test corpora, so
    * salted output == uncapped output there. Group counts and bounds are
    * Long: a cap of Int.MaxValue means uncapped. The DuckDB oracles mirror
    * the policy in SQL.
    *
    * Returns `df` with a `salt` column, and the dense census (keys, bn) a
    * probe side fans out over ([[saltedProbeSide]]). */
  private[graft] def saltedBuckets(df: DataFrame, keys: Seq[String], id: String,
      cap: Int): (DataFrame, DataFrame) = {
    val dense = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bn"))
      .filter(col("bn") > cap)
    (df.join(broadcast(dense), keys, "left")
      .withColumn("salt", pmod(hash52(col(id)), saltGroups(cap))), dense)
  }

  /** [[saltedBuckets]] minus every (keys, salt) group over 2×cap rows —
    * the form for paths that self-join or probe the salted rows — and
    * the dense census. */
  private[graft] def boundedBuckets(df: DataFrame, keys: Seq[String], id: String,
      cap: Int): (DataFrame, DataFrame) = {
    val (salted, dense) = saltedBuckets(df, keys, id, cap)
    val groupKeys = keys :+ "salt"
    val oversized = salted.groupBy(groupKeys.map(col): _*).agg(count(lit(1)).as("gn"))
      .filter(col("gn") > groupBound(cap))
    (salted.join(broadcast(oversized), groupKeys, "left_anti"), dense)
  }

  /** The within-group pairs of `df`'s buckets under the shared policy: one
    * shuffle collects each (keys, salt) group's sorted `payload`, groups of
    * 2 to 2×cap rows explode into ordered pairs — column `p` of struct
    * (a, b), a < b in payload order — with no self-join. */
  private[graft] def bucketPairs(df: DataFrame, keys: Seq[String], id: String,
      payload: Column, cap: Int): DataFrame =
    saltedBuckets(df, keys, id, cap)._1
      .groupBy((keys :+ "salt").map(col): _*)
      .agg(sort_array(collect_list(payload)).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= lit(groupBound(cap)))
      .select(explode(PairExpressions.orderedPairs(col("ds"))).as("p"))

  /** The index side of a persisted-index probe under the shared policy at
    * [[MaxBucket]], used by both the batch ([[incrementalLshMatch]]) and
    * streaming (EventStreams.incrementalLshTransform) forms so a dense
    * bucket is capped identically on both. Returns (bounded index keyed
    * (band, h, salt) -> corpus_id, dense-bucket census for the probe side).
    * `keep` rides extra columns (e.g. the full 64-bit hash a pigeonhole
    * probe must verify against) through the policy untouched. */
  private[graft] def saltedIndexSide(index: DataFrame,
      keep: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val (bounded, dense) = boundedBuckets(index, Seq("band", "h"), "doc_id", MaxBucket)
    (bounded.select(Seq(col("band"), col("h"), col("salt"),
      col("doc_id").as("corpus_id")) ++ keep.map(col): _*), dense)
  }

  /** Probe-side half of the shared policy: each probe signature row fans
    * out to EVERY salt group of its bucket (replication lands on the small
    * batch side and only for dense buckets), so a probe can never miss an
    * index partner because of the salt. */
  private[graft] def saltedProbeSide(sigs: DataFrame, dense: DataFrame,
      keep: Seq[String] = Nil): DataFrame =
    sigs.join(broadcast(dense), Seq("band", "h"), "left")
      .withColumn("salt", explode(sequence(lit(0L), saltGroups(MaxBucket) - 1)))
      .select(Seq(col("band"), col("h"), col("salt"),
        col("doc_id")) ++ keep.map(col): _*)

  /** Incremental NEAR-dup ingestion: match a new batch against a PERSISTED
    * corpus LSH index (`lshIndexOf` written to parquet) — the nightly
    * reality `incremental` (exact-hash) cannot cover. The corpus side is
    * scan-only: its signatures were computed once at index-build time, so
    * a nightly batch costs |batch| signature passes + one join against the
    * index, never a corpus recompute (plan-asserted in DedupSpec).
    *
    * Skew policy is the shared salted-bucket policy, adapted to a
    * two-relation join: INDEX rows are salted and bounded
    * ([[saltedIndexSide]]), and each BATCH row probes EVERY salt group of
    * its bucket ([[saltedProbeSide]]) — so per-task join work stays
    * ~cap x |batch bucket| while recall within the bounded groups is
    * total. Output: per batch doc, the distinct-corpus-match count and a
    * novelty flag. */
  def incrementalLshMatch(batch: DataFrame, index: DataFrame): DataFrame = {
    val (idxBounded, dense) = saltedIndexSide(index)
    val probes = saltedProbeSide(lshIndexOf(batch), dense)
    val matches = probes.join(idxBounded, Seq("band", "h", "salt"))
      .filter(col("doc_id") =!= col("corpus_id"))
      .select(col("doc_id"), col("corpus_id")).distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("nm"))
    batch.select(col("doc_id"))
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nm"), lit(0L)).as("n_matches"),
        when(col("nm").isNull, 1).otherwise(0).as("is_novel"))
  }

  /** Gated view of `incrementalLshMatch`: batch = source 'src0', index =
    * signatures of everything else (built in-query here; a deployment
    * reads it from the persisted parquet index). */
  def incrementalLsh(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    incrementalLshMatch(
      d.filter(col("source") === "src0"),
      lshIndexOf(d.filter(col("source") =!= "src0")))
  }

  /** Cross-source contamination matrix — WHERE the near-duplication lives:
    * each verified near-dup pair ([[minhashVerified]] — LSH-bounded,
    * exact-Jaccard-confirmed) resolved to its two documents' sources and
    * aggregated into (source_a ≤ source_b) cells. The readout that decides
    * which feeds to drop or de-prioritize before a 100 TB crawl merge:
    * diagonal cells are within-feed churn, off-diagonal cells are
    * mirror/syndication overlap. Pair volume is LSH-bounded, the source
    * lookup joins doc-id-sized relations, the matrix is |sources|². */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val src = docs(s, dir).select(col("doc_id"), col("source"))
    minhashVerified(s, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  // --- wiring --------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> (exact _),
    "dedup_minhash_lsh" -> (minhashLsh _),
    "dedup_minhash_banded" -> (minhashLshBanded _),
    "dedup_simhash" -> (simhash _),
    "dedup_simhash_pairs" -> ((s: SparkSession, dir: String) => simhashPairs(s, dir)),
    "dedup_ngram_jaccard" -> (ngramJaccard _),
    "dedup_lsh_recall" -> (lshRecall _),
    "dedup_lsh_recall_banded" -> (lshRecallBanded _),
    "dedup_containment" -> (containment _),
    "dedup_clusters" -> (clusterAssign _),
    "dedup_minhash_verified" -> (minhashVerified _),
    "dedup_jaccard_weighted" -> (weightedJaccard _),
    "dedup_minhash_estimate" -> (minhashEstimate _),
    "dedup_survivors" -> (survivors _),
    "dedup_incremental" -> (incremental _),
    "dedup_incremental_lsh" -> (incrementalLsh _),
    "dedup_substring" -> (substringDup _),
    "dedup_boilerplate" -> (boilerplateTopK _),
    "dedup_substring_rm" -> (substringRemove _),
    "dedup_substring_rm_spans" -> (substringRemoveSpans _),
    "dedup_substring_spans" -> (substringSpans _),
    "dedup_semantic" -> (semanticDedup _),
    "dedup_semantic_keep" -> (semanticDedupKeep _),
    "dedup_embedding" -> (embeddingNearDup _),
    "dedup_source_overlap" -> (sourceOverlap _))

  // Oracle SQL (generated where repetitive, so Spark and SQL share constants)

  private val shinglesSql =
    "list_transform(generate_series(1, len(string_split(text, ' ')) - 2), i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))"

  /** CTE chain ending in `pairs(doc_a, doc_b, inter, na, nb)` — the exact
    * mirror of [[shingleInterPairs]], shared by the ngram_jaccard and
    * containment oracles so the candidate/salting recipe cannot drift. */
  private val shingleInterCtes: String =
    s"sh AS (SELECT doc_id, list_distinct($shinglesSql) AS sh FROM documents WHERE len(string_split(text, ' ')) >= $ShingleN), " +
      s"ex AS (SELECT doc_id, n, ${graft.functions.hash64Sql("g")} AS g FROM " +
      "(SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM sh WHERE len(sh) > 0)), " +
      s"exs AS (SELECT doc_id, n, g, ${graft.functions.hash52Sql("doc_id")} % ((bn + ${MaxBucket - 1}) // $MaxBucket) AS salt " +
      "FROM (SELECT doc_id, n, g, count(*) OVER (PARTITION BY g) AS bn FROM ex)), " +
      "exc AS (SELECT doc_id, n, g, salt FROM (SELECT doc_id, n, g, salt, " +
      s"count(*) OVER (PARTITION BY g, salt) AS gn FROM exs) WHERE gn <= ${2 * MaxBucket}), " +
      "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter, any_value(a.n) AS na, any_value(b.n) AS nb " +
      "FROM exc a JOIN exc b ON a.g = b.g AND a.salt = b.salt AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id)"

  /** Hex digits [from, from+16) of md5 expression `m` as a HUGEINT — the
    * big-endian 64-bit half MinHashSigExpr reads from the raw digest. */
  private def hexHalf(m: String, from: Int): String =
    hexIntSql(m, from, 16, huge = true)

  /** Replay of `incrementalLshMatch` for ANY index/batch split of the
    * documents table (predicates over doc_id/source): the banded-signature
    * chain computed once, split into index and batch sides, then the
    * salt/probe join mirror. Shared by dedup_incremental_lsh (source
    * split) and pipeline_decontaminate_fuzzy (benchmark split). */
  private[graft] def lshMatchOracle(idxPred: String, batchPred: String): String =
    s"WITH bsh AS (SELECT doc_id, source, $shinglesSql AS sh FROM documents WHERE len(string_split(text, ' ')) >= $ShingleN), " +
      "bex AS (SELECT doc_id, source, unnest(sh) AS x FROM bsh WHERE len(sh) > 0), " +
      s"bhm AS (SELECT doc_id, source, ${hexHalf("m", 1)} AS h1, ${hexHalf("m", 17)} AS h2 " +
      "FROM (SELECT doc_id, source, md5(x) AS m FROM bex)), " +
      s"bnd AS (SELECT doc_id, source, p AS band, min((h1 + p * h2) % 18446744073709551616) AS h " +
      s"FROM bhm CROSS JOIN generate_series(0, ${MinhashPerms - 1}) g(p) GROUP BY doc_id, source, p), " +
      s"idx AS (SELECT doc_id, band, h FROM bnd WHERE $idxPred), " +
      s"bsig AS (SELECT doc_id, band, h FROM bnd WHERE $batchPred), " +
      "census AS (SELECT band, h, count(*) AS bn FROM idx GROUP BY 1, 2), " +
      s"idxs AS (SELECT i.doc_id AS corpus_id, i.band, i.h, ${graft.functions.hash52Sql("i.doc_id")} % ((c.bn + ${MaxBucket - 1}) // $MaxBucket) AS salt " +
      "FROM idx i JOIN census c ON c.band = i.band AND c.h = i.h), " +
      "grp AS (SELECT band, h, salt, count(*) AS gn FROM idxs GROUP BY 1, 2, 3), " +
      s"idxb AS (SELECT i.* FROM idxs i JOIN grp g ON g.band = i.band AND g.h = i.h AND g.salt = i.salt WHERE g.gn <= ${2 * MaxBucket}), " +
      s"probes AS (SELECT b.doc_id, b.band, b.h, unnest(generate_series(0, ((coalesce(c.bn, 1) + ${MaxBucket - 1}) // $MaxBucket) - 1)) AS salt " +
      "FROM bsig b LEFT JOIN census c ON c.band = b.band AND c.h = b.h), " +
      "m AS (SELECT DISTINCT p.doc_id, i.corpus_id FROM probes p JOIN idxb i " +
      "ON i.band = p.band AND i.h = p.h AND i.salt = p.salt WHERE p.doc_id <> i.corpus_id), " +
      "mc AS (SELECT doc_id, count(*) AS n_matches FROM m GROUP BY doc_id) " +
      "SELECT b.doc_id, coalesce(mc.n_matches, 0) AS n_matches, " +
      "CASE WHEN mc.doc_id IS NULL THEN 1 ELSE 0 END AS is_novel " +
      s"FROM (SELECT doc_id FROM documents WHERE $batchPred) b LEFT JOIN mc USING (doc_id)"

  /** The signature chain alone (ending in `banded(doc_id, band, h)`) —
    * shared with the streaming first-claim oracle (EventStreams). */
  private[graft] val lshBandCtes =
    s"sh AS (SELECT doc_id, $shinglesSql AS sh FROM documents WHERE len(string_split(text, ' ')) >= $ShingleN), " +
      "ex AS (SELECT doc_id, unnest(sh) AS x FROM sh WHERE len(sh) > 0), " +
      // Derived-hash MinHash (mirrors MinHashSigExpr): one md5 per shingle,
      // h1/h2 = the two 64-bit digest halves, perm p's hash =
      // (h1 + p*h2) mod 2^64 — canonical values of Java's wrapping longs.
      s"hm AS (SELECT doc_id, ${hexHalf("m", 1)} AS h1, ${hexHalf("m", 17)} AS h2 " +
      "FROM (SELECT doc_id, md5(x) AS m FROM ex)), " +
      s"banded AS (SELECT doc_id, p AS band, min((h1 + p * h2) % 18446744073709551616) AS h " +
      s"FROM hm CROSS JOIN generate_series(0, ${MinhashPerms - 1}) g(p) GROUP BY doc_id, p)"

  private val lshCtes =
    s"$lshBandCtes, " +
      // Mirror of the gated path's bucket salting (Dedup.MaxBucket).
      s"bandeds AS (SELECT doc_id, band, h, ${graft.functions.hash52Sql("doc_id")} % ((bn + ${MaxBucket - 1}) // $MaxBucket) AS salt " +
      "FROM (SELECT doc_id, band, h, count(*) OVER (PARTITION BY band, h) AS bn FROM banded)), " +
      "bandedc AS (SELECT doc_id, band, h, salt FROM (SELECT doc_id, band, h, salt, " +
      s"count(*) OVER (PARTITION BY band, h, salt) AS gn FROM bandeds) WHERE gn <= ${2 * MaxBucket})"

  private val lshPairsSelect =
    "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bandedc a JOIN bandedc b " +
      "ON a.band = b.band AND a.h = b.h AND a.salt = b.salt AND a.doc_id < b.doc_id"

  /** The full banded (b=4xr=2) candidate-pair query — shared by the
    * dedup_minhash_banded oracle and the banded recall audit. */
  private val bandedPairsSql: String =
    s"WITH $lshCtes, " +
      s"b2 AS (SELECT a.doc_id, a.band // $BandRows AS band, a.h AS h1, b.h AS h2 " +
      s"FROM banded a JOIN banded b ON a.doc_id = b.doc_id AND b.band = a.band + 1 AND a.band % $BandRows = 0), " +
      s"b2s AS (SELECT doc_id, band, h1, h2, ${graft.functions.hash52Sql("doc_id")} % ((bn + ${MaxBucket - 1}) // $MaxBucket) AS salt " +
      "FROM (SELECT doc_id, band, h1, h2, count(*) OVER (PARTITION BY band, h1, h2) AS bn FROM b2)), " +
      "b2c AS (SELECT doc_id, band, h1, h2, salt FROM (SELECT doc_id, band, h1, h2, salt, " +
      s"count(*) OVER (PARTITION BY band, h1, h2, salt) AS gn FROM b2s) WHERE gn <= ${2 * MaxBucket}) " +
      "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM b2c a JOIN b2c b " +
      "ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2 AND a.salt = b.salt AND a.doc_id < b.doc_id"

  /** Recall-audit oracle, parameterized on the candidate-pair query
    * (nested in its own WITH so its CTE names scope independently of the
    * truth chain's sh/ex). */
  private def lshRecallOracle(candidateSql: String): String =
    s"WITH $shingleInterCtes, " +
      s"cand AS ($candidateSql), " +
      s"tr AS (SELECT doc_a, doc_b, CAST(least((inter * $RecallBands) // (na + nb - inter), ${RecallBands - 1}) AS INT) AS sim_band FROM pairs), " +
      "j AS (SELECT tr.sim_band, CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit " +
      "FROM tr LEFT JOIN cand c ON c.doc_a = tr.doc_a AND c.doc_b = tr.doc_b) " +
      "SELECT sim_band, count(*) AS n_pairs, CAST(sum(hit) AS BIGINT) AS n_hit, " +
      "(CAST(sum(hit) AS BIGINT) * 1000000) // count(*) AS recall_ppm FROM j GROUP BY sim_band"

  /** Mirror of SimHash64Expr: bit j of a token's 64-bit hash is nibble bit
    * j%4 of hex digit 16 - j/4 of md5(token) (big-endian hex == the same
    * value as the digest's first 8 bytes read big-endian). The 64 majority
    * bits assemble into an UNSIGNED HUGEINT (`s`); callers convert to the
    * signed BIGINT Spark holds via `simhashSignedSql`. */
  private val simhashVoteSql = (0 until 64).map { j =>
    s"list_sum(list_transform(toks, t -> CASE WHEN ((strpos('0123456789abcdef', substr(md5(t), ${16 - j / 4}, 1)) - 1) // ${1 << (j % 4)}) % 2 = 1 THEN 1 ELSE -1 END))"
  }
  private val simhashRawSql = simhashVoteSql.zipWithIndex
    .map { case (v, j) => s"CASE WHEN $v > 0 THEN CAST('${BigInt(1) << j}' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END" }
    .mkString("(", " + ", ")")
  private def simhashSignedSql(c: String): String =
    s"CAST(CASE WHEN $c >= CAST('9223372036854775808' AS HUGEINT) THEN $c - CAST('18446744073709551616' AS HUGEINT) ELSE $c END AS BIGINT)"
  /** Pigeonhole block value bi of unsigned simhash `c`: bits 0-21 / 22-42 /
    * 43-63, matching the gated path's shiftright+mask on the signed long. */
  private def simhashBlockSql(c: String): String =
    s"CASE bi WHEN 0 THEN CAST($c % 4194304 AS BIGINT) WHEN 1 THEN CAST(($c // 4194304) % 2097152 AS BIGINT) ELSE CAST($c // 8796093022208 AS BIGINT) END"

  /** SQL mirror of `hammingPairs` over a CTE `src` yielding (doc_id,
    * h BIGINT): CTE chain ending in `hcand(doc_a, ha, doc_b, hb)` — the
    * 3-block pigeonhole candidates under the shared salt policy. Shared by
    * the dedup_simhash_pairs and mm_phash_pairs oracles, mirroring the one
    * engine path both run. */
  private[operators] def hammingPairsCtes(src: String): String =
    s"hu AS (SELECT doc_id, h, CAST(h AS HUGEINT) + CASE WHEN h < 0 THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS s FROM $src), " +
      s"hbl AS (SELECT doc_id, h, bi, ${simhashBlockSql("s")} AS bv " +
      "FROM hu CROSS JOIN (SELECT unnest([0, 1, 2]) AS bi)), " +
      // degenerate-block mask (r14): drop saturated (bi, bv) buckets
      // (bn · DegenShare > corpus) unless the doc has no clean block;
      // the salt census below is re-taken over the KEPT rows, mirroring
      // the engine
      "hfl AS (SELECT doc_id, h, bi, bv, CASE WHEN " +
      s"count(*) OVER (PARTITION BY bi, bv) * $DegenShare > count(*) OVER (PARTITION BY bi) " +
      "THEN 1 ELSE 0 END AS dg FROM hbl), " +
      "hkeep AS (SELECT doc_id, h, bi, bv FROM (SELECT *, " +
      "count(CASE WHEN dg = 0 THEN 1 END) OVER (PARTITION BY doc_id) AS nclean FROM hfl) " +
      "WHERE dg = 0 OR nclean = 0), " +
      "hbls AS (SELECT doc_id, h, bi, bv, " +
      s"${graft.functions.hash52Sql("doc_id")} % ((bn + ${MaxBucket - 1}) // $MaxBucket) AS salt " +
      "FROM (SELECT doc_id, h, bi, bv, count(*) OVER (PARTITION BY bi, bv) AS bn FROM hkeep)), " +
      "hblc AS (SELECT doc_id, h, bi, bv, salt FROM (SELECT doc_id, h, bi, bv, salt, " +
      s"count(*) OVER (PARTITION BY bi, bv, salt) AS gn FROM hbls) WHERE gn <= ${2 * MaxBucket}), " +
      "hcand AS (SELECT DISTINCT a.doc_id AS doc_a, a.h AS ha, b.doc_id AS doc_b, b.h AS hb " +
      "FROM hblc a JOIN hblc b ON a.bi = b.bi AND a.bv = b.bv AND a.salt = b.salt AND a.doc_id < b.doc_id)"

  /** Final select over `hcand`: XOR-popcount verify at `MaxHamming`. */
  private[operators] def hammingPairsSelect: String =
    "SELECT doc_a, doc_b, CAST(bit_count(CAST(xor(ha, hb) AS BIGINT)) AS INT) AS hamming " +
      s"FROM hcand WHERE bit_count(CAST(xor(ha, hb) AS BIGINT)) <= $MaxHamming"

  /** Replay of the persisted-hamming-index probe
    * (Multimodal.phashIncrementalMatch) for any index/batch split of a CTE
    * `src` yielding (doc_id, source, h BIGINT): the 3-block pigeonhole
    * split into index and batch sides under the shared salt-policy mirror
    * (the lshMatchOracle chain keyed on (bi, bv)), with XOR-popcount
    * verification at `MaxHamming` on candidates. Ends in
    * `mc(doc_id, n_matches)`; the caller supplies the batch universe for
    * the final left join. */
  private[operators] def hammingMatchOracle(src: String, idxPred: String,
      batchPred: String): String =
    s"hu AS (SELECT doc_id, source, h, CAST(h AS HUGEINT) + CASE WHEN h < 0 THEN CAST('18446744073709551616' AS HUGEINT) ELSE CAST(0 AS HUGEINT) END AS s FROM $src), " +
      s"hbl AS (SELECT doc_id, source, h, bi, ${simhashBlockSql("s")} AS bv " +
      "FROM hu CROSS JOIN (SELECT unnest([0, 1, 2]) AS bi)), " +
      s"hidx AS (SELECT doc_id, h, bi, bv FROM hbl WHERE $idxPred), " +
      s"hbat AS (SELECT doc_id, h, bi, bv FROM hbl WHERE $batchPred), " +
      "census AS (SELECT bi, bv, count(*) AS bn FROM hidx GROUP BY 1, 2), " +
      s"idxs AS (SELECT i.doc_id AS corpus_id, i.h, i.bi, i.bv, ${graft.functions.hash52Sql("i.doc_id")} % ((c.bn + ${MaxBucket - 1}) // $MaxBucket) AS salt " +
      "FROM hidx i JOIN census c ON c.bi = i.bi AND c.bv = i.bv), " +
      "grp AS (SELECT bi, bv, salt, count(*) AS gn FROM idxs GROUP BY 1, 2, 3), " +
      s"idxb AS (SELECT i.* FROM idxs i JOIN grp g ON g.bi = i.bi AND g.bv = i.bv AND g.salt = i.salt WHERE g.gn <= ${2 * MaxBucket}), " +
      s"probes AS (SELECT b.doc_id, b.h, b.bi, b.bv, unnest(generate_series(0, ((coalesce(c.bn, 1) + ${MaxBucket - 1}) // $MaxBucket) - 1)) AS salt " +
      "FROM hbat b LEFT JOIN census c ON c.bi = b.bi AND c.bv = b.bv), " +
      "m AS (SELECT DISTINCT p.doc_id, i.corpus_id FROM probes p JOIN idxb i " +
      "ON i.bi = p.bi AND i.bv = p.bv AND i.salt = p.salt " +
      s"WHERE p.doc_id <> i.corpus_id AND bit_count(CAST(xor(p.h, i.h) AS BIGINT)) <= $MaxHamming), " +
      "mc AS (SELECT doc_id, count(*) AS n_matches FROM m GROUP BY doc_id)"

  /** CTE chain (requires WITH RECURSIVE) ending in `lab(doc_id,
    * cluster_id)` — the connected-components labeling over LSH pairs ∪
    * exact-hash star edges. Shared by the `dedup_survivors` oracle and the
    * composed curation oracle in Pipeline. */
  /** Hashed distinct-shingle set (mirror of minhashVerified's `shd`): the
    * per-element hash is graft's full-width hash64, so set sizes and
    * intersections replay exactly on BIGINT lists. */
  private val shdCte: String =
    "shd AS (SELECT doc_id, list_transform(list_distinct(sh), x -> " +
      s"${graft.functions.hash64Sql("x")}) AS dsh FROM sh WHERE len(sh) > 0)"

  /** The verified-pair select over `cand` + `shd` — shared by the
    * minhash_verified oracle and the source-overlap matrix built on it. */
  private val verifiedSelectSql: String =
    "SELECT doc_a, doc_b, jaccard FROM (SELECT c.doc_a, c.doc_b, " +
      "round(CAST(len(list_intersect(a.dsh, b.dsh)) AS DOUBLE) / " +
      "(len(a.dsh) + len(b.dsh) - len(list_intersect(a.dsh, b.dsh))), 4) AS jaccard " +
      "FROM cand c JOIN shd a ON a.doc_id = c.doc_a JOIN shd b ON b.doc_id = c.doc_b) " +
      s"WHERE jaccard >= $JaccardThreshold"

  private[operators] def survivorLabCtes: String =
    s"$lshCtes, pairs AS ($lshPairsSelect), $shdCte, " +
      "vp AS (SELECT doc_a, doc_b FROM (SELECT c.doc_a, c.doc_b, " +
      "round(CAST(len(list_intersect(a.dsh, b.dsh)) AS DOUBLE) / " +
      "(len(a.dsh) + len(b.dsh) - len(list_intersect(a.dsh, b.dsh))), 4) AS jaccard " +
      "FROM pairs c JOIN shd a ON a.doc_id = c.doc_a JOIN shd b ON b.doc_id = c.doc_b) " +
      s"WHERE jaccard >= $JaccardThreshold), " +
      "hx AS (SELECT doc_id, md5(text) AS h FROM documents), " +
      "hc AS (SELECT h, min(doc_id) AS canon FROM hx GROUP BY h), " +
      "epairs AS (SELECT hc.canon AS doc_a, hx.doc_id AS doc_b FROM hx JOIN hc ON hx.h = hc.h WHERE hx.doc_id <> hc.canon), " +
      "ap AS (SELECT doc_a, doc_b FROM vp UNION ALL SELECT doc_a, doc_b FROM epairs), " +
      "edges AS (SELECT doc_a AS src, doc_b AS dst FROM ap UNION ALL SELECT doc_b AS src, doc_a AS dst FROM ap), " +
      "reach(src, dst) AS (SELECT doc_id, doc_id FROM documents " +
      "UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), " +
      "lab AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)"

  /** CTE chain (requires WITH RECURSIVE) ending in `lab(vid, sem_id)` +
    * `assign(vec_id, embedding, cent_id, ccos)` — the SemDeDup labeling:
    * the learned clustering replays through Similarity.ivfAssignCtes (the
    * SAME training mirror the sim_ann_ivf oracle runs), then the
    * dedup_embedding salt/pair mirror keyed on cent_id, then the
    * dedup_survivors reach CTE over vec ids. Shared by the dedup_semantic
    * and dedup_semantic_keep oracles. */
  private[operators] val semanticLabCtes: String =
    s"${Similarity.ivfAssignCtes}, " +
      "census AS (SELECT cent_id, count(*) AS bn FROM assign GROUP BY cent_id), " +
      s"saltedv AS (SELECT a.cent_id, a.vec_id, a.embedding, ${graft.functions.hash52Sql("a.vec_id")} % ((c.bn + ${LabelCap - 1}) // $LabelCap) AS salt " +
      "FROM assign a JOIN census c ON c.cent_id = a.cent_id), " +
      "grp AS (SELECT cent_id, salt, count(*) AS gn FROM saltedv GROUP BY 1, 2), " +
      s"boundedv AS (SELECT s.* FROM saltedv s JOIN grp g ON g.cent_id = s.cent_id AND g.salt = s.salt WHERE g.gn <= ${2 * LabelCap}), " +
      s"vp AS (SELECT a.vec_id AS va, b.vec_id AS vb FROM boundedv a JOIN boundedv b " +
      "ON a.cent_id = b.cent_id AND a.salt = b.salt AND a.vec_id < b.vec_id " +
      s"WHERE ${Similarity.cosBetween("a.embedding", "b.embedding")} >= $CosineThreshold), " +
      "edges AS (SELECT va AS src, vb AS dst FROM vp UNION ALL SELECT vb AS src, va AS dst FROM vp), " +
      "reach(src, dst) AS (SELECT vec_id, vec_id FROM embeddings " +
      "UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src), " +
      "lab AS (SELECT src AS vid, min(dst) AS sem_id FROM reach GROUP BY src)"

  /** The paper-exact SemDeDup keep rule as a CTE over `lab` + `assign`
    * (kk(sem_id, vec_id) = each duplicate group's centroid-nearest
    * survivor) — shared by the dedup_semantic_keep and
    * pipeline_curate_semantic oracles. */
  private[operators] val semanticKeepCte: String =
    "kk AS (SELECT sem_id, vec_id FROM (SELECT l.sem_id, a.vec_id, " +
      "row_number() OVER (PARTITION BY l.sem_id ORDER BY CAST(floor(a.ccos * 10000 + 0.5) AS BIGINT) DESC, a.vec_id ASC) AS rn " +
      "FROM lab l JOIN assign a ON a.vec_id = l.vid) WHERE rn = 1)"

  def oracles: Map[String, String] = Map(
    "dedup_exact" ->
      "SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY md5(text)",
    "dedup_incremental" ->
      ("SELECT doc_id, source FROM documents WHERE source = 'src0' AND md5(text) NOT IN " +
        "(SELECT md5(text) FROM documents WHERE source <> 'src0')"),
    "dedup_minhash_lsh" -> s"WITH $lshCtes $lshPairsSelect",
    "dedup_minhash_banded" -> bandedPairsSql,
    "dedup_clusters" ->
      (s"WITH RECURSIVE $lshCtes, pairs AS ($lshPairsSelect), " +
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs), " +
        "reach(src, dst) AS (SELECT doc_id, doc_id FROM documents " +
        "UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src) " +
        "SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src"),
    "dedup_minhash_verified" ->
      (s"WITH $lshCtes, cand AS ($lshPairsSelect), $shdCte $verifiedSelectSql"),
    "dedup_jaccard_weighted" ->
      (s"WITH $lshCtes, cand AS ($lshPairsSelect), " +
        // Multiset counts: the same shingle chain WITHOUT list_distinct.
        s"mex AS (SELECT doc_id, unnest(sh) AS x FROM sh WHERE len(sh) > 0), " +
        s"mcnt AS (SELECT doc_id, ${graft.functions.hash64Sql("x")} AS g, count(*) AS c FROM mex GROUP BY 1, 2), " +
        "mtot AS (SELECT doc_id, sum(c) AS tot FROM mcnt GROUP BY 1), " +
        "mint AS (SELECT p.doc_a, p.doc_b, sum(least(a.c, b.c)) AS summin " +
        "FROM cand p JOIN mcnt a ON a.doc_id = p.doc_a " +
        "JOIN mcnt b ON b.doc_id = p.doc_b AND b.g = a.g GROUP BY 1, 2) " +
        "SELECT p.doc_a, p.doc_b, CAST(coalesce(m.summin, 0) AS BIGINT) AS summin, " +
        "CASE WHEN coalesce(ta.tot, 0) + coalesce(tb.tot, 0) - coalesce(m.summin, 0) = 0 THEN 0.0 " +
        "ELSE floor(CAST(coalesce(m.summin, 0) AS DOUBLE) / " +
        "(coalesce(ta.tot, 0) + coalesce(tb.tot, 0) - coalesce(m.summin, 0)) * 1e4 + 0.5) / 1e4 END AS w_jaccard " +
        "FROM cand p LEFT JOIN mint m ON m.doc_a = p.doc_a AND m.doc_b = p.doc_b " +
        "LEFT JOIN mtot ta ON ta.doc_id = p.doc_a LEFT JOIN mtot tb ON tb.doc_id = p.doc_b"),
    "dedup_source_overlap" ->
      (s"WITH $lshCtes, cand AS ($lshPairsSelect), $shdCte, " +
        s"ver AS ($verifiedSelectSql) " +
        "SELECT least(da.source, db.source) AS source_a, " +
        "greatest(da.source, db.source) AS source_b, count(*) AS n_pairs " +
        "FROM ver JOIN documents da ON ver.doc_a = da.doc_id " +
        "JOIN documents db ON ver.doc_b = db.doc_id GROUP BY 1, 2"),
    "dedup_minhash_estimate" ->
      (s"WITH $lshCtes, cand AS ($lshPairsSelect), " +
        "m AS (SELECT c.doc_a, c.doc_b, sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS nm " +
        "FROM cand c JOIN banded a ON a.doc_id = c.doc_a " +
        "JOIN banded b ON b.doc_id = c.doc_b AND b.band = a.band GROUP BY 1, 2) " +
        s"SELECT doc_a, doc_b, CAST(nm AS INT) AS n_match, " +
        s"round(CAST(nm AS DOUBLE) / $MinhashPerms, 4) AS est_jaccard FROM m"),
    "dedup_survivors" ->
      (s"WITH RECURSIVE $survivorLabCtes " +
        "SELECT cluster_id AS doc_id, count(*) AS n_repr FROM lab GROUP BY cluster_id"),
    "dedup_simhash" ->
      (s"SELECT doc_id, ${simhashSignedSql("s")} AS simhash " +
        s"FROM (SELECT doc_id, $simhashRawSql AS s " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))"),
    "dedup_simhash_pairs" ->
      (s"WITH raw AS (SELECT doc_id, $simhashRawSql AS s " +
        "FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)), " +
        s"shp AS (SELECT doc_id, ${simhashSignedSql("s")} AS h FROM raw), " +
        s"${hammingPairsCtes("shp")} $hammingPairsSelect"),
    "dedup_lsh_recall" -> lshRecallOracle(s"WITH $lshCtes $lshPairsSelect"),
    "dedup_lsh_recall_banded" -> lshRecallOracle(bandedPairsSql),
    "dedup_ngram_jaccard" ->
      (s"WITH $shingleInterCtes " +
        s"SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard FROM pairs " +
        s"WHERE round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) >= $JaccardThreshold"),
    "dedup_containment" ->
      (s"WITH $shingleInterCtes " +
        s"SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / least(na, nb), 4) AS containment FROM pairs " +
        s"WHERE round(CAST(inter AS DOUBLE) / least(na, nb), 4) >= $ContainmentThreshold"),
    "dedup_semantic" ->
      (s"WITH RECURSIVE $semanticLabCtes " +
        "SELECT sem_id AS vec_id, count(*) AS n_repr FROM lab GROUP BY sem_id"),
    "dedup_semantic_keep" ->
      // Same labeling chain; the survivor per group is then the
      // centroid-nearest member (ccos from the assignment replay, x1e4
      // integer key, vec_id tie-break) — the paper's keep rule.
      (s"WITH RECURSIVE $semanticLabCtes, " +
        "cnt AS (SELECT sem_id, count(*) AS n_repr FROM lab GROUP BY sem_id), " +
        s"$semanticKeepCte " +
        "SELECT kk.vec_id AS vec_id, cnt.n_repr FROM kk JOIN cnt USING (sem_id)"),
    "dedup_incremental_lsh" ->
      lshMatchOracle(idxPred = "source <> 'src0'", batchPred = "source = 'src0'"),
    "dedup_boilerplate" -> {
      val sh5 = s"list_transform(generate_series(1, len(string_split(text, ' ')) - ${SubstrGram - 1}), " +
        s"i -> array_to_string((string_split(text, ' '))[i:i+${SubstrGram - 1}], ' '))"
      s"WITH gw AS (SELECT doc_id, unnest(sh) AS g FROM (SELECT doc_id, $sh5 AS sh FROM documents)), " +
        "pd AS (SELECT doc_id, md5(g) AS gh, count(*) AS occ FROM gw GROUP BY 1, 2), " +
        "census AS (SELECT gh, count(*) AS n_docs, CAST(sum(occ) AS BIGINT) AS n_occurrences " +
        "FROM pd GROUP BY gh HAVING count(*) >= 2), " +
        s"top AS (SELECT * FROM census ORDER BY n_docs DESC, n_occurrences DESC, gh LIMIT $BoilerplateK), " +
        "wt AS (SELECT DISTINCT md5(g) AS gh, g AS win_text FROM gw) " +
        "SELECT wt.win_text, top.n_docs, top.n_occurrences FROM top JOIN wt USING (gh)"
    },
    "dedup_substring" -> {
      val sh5 = s"list_transform(generate_series(1, len(string_split(text, ' ')) - ${SubstrGram - 1}), " +
        s"i -> array_to_string((string_split(text, ' '))[i:i+${SubstrGram - 1}], ' '))"
      s"WITH g AS (SELECT doc_id, md5(g) AS gh FROM (SELECT doc_id, unnest(sh) AS g FROM (SELECT doc_id, $sh5 AS sh FROM documents))), " +
        "pd AS (SELECT doc_id, gh, count(*) AS occ FROM g GROUP BY doc_id, gh), " +
        "dg AS (SELECT gh, count(*) AS ndocs FROM pd GROUP BY gh) " +
        "SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_windows, " +
        "CAST(sum(CASE WHEN ndocs >= 2 THEN occ ELSE 0 END) AS BIGINT) AS n_dup_windows, " +
        "floor(CAST(sum(CASE WHEN ndocs >= 2 THEN occ ELSE 0 END) AS DOUBLE) / sum(occ) * 1000000 + 0.5) / 1000000 AS dup_ratio " +
        "FROM pd JOIN dg USING (gh) GROUP BY doc_id"
    },
    "dedup_substring_rm" -> {
      val w = SubstrGram
      s"WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        // windows WITH positions: (pos, md5) structs so the per-token keep
        // flags can replay the coverage rule
        s"gp AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - ${w - 1}), " +
        s"i -> {'pos': i, 'gh': md5(array_to_string(toks[i:i+${w - 1}], ' '))})) AS wn FROM t), " +
        "g AS (SELECT doc_id, wn.pos AS pos, wn.gh AS gh FROM gp), " +
        "dup AS (SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS nd FROM g GROUP BY gh) WHERE nd >= 2), " +
        "dps AS (SELECT doc_id, list_sort(list(DISTINCT pos)) AS dps FROM g JOIN dup USING (gh) GROUP BY doc_id), " +
        "r AS (SELECT t.doc_id, t.toks, coalesce(d.dps, []) AS dps FROM t LEFT JOIN dps d ON d.doc_id = t.doc_id), " +
        s"k AS (SELECT doc_id, toks, list_filter(generate_series(1, len(toks)), j -> len(list_filter(dps, i -> i <= j AND j <= i + ${w - 1})) = 0) AS kp FROM r) " +
        "SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens, CAST(len(toks) - len(kp) AS INT) AS n_removed, " +
        // array_to_string([]) is NULL in DuckDB but '' in Spark's array_join
        "coalesce(array_to_string(list_transform(kp, j -> toks[j]), ' '), '') AS text_clean FROM k"
    },
    "dedup_substring_rm_spans" -> {
      val w = SubstrGram
      // spans CTE chain (the dedup_substring_spans recipe, kept to
      // start/end intervals) → qualifying spans >= MinSpanLen → per-token
      // keep replay (the dedup_substring_rm rebuild against spans)
      s"WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        s"gp AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - ${w - 1}), " +
        s"i -> {'pos': i, 'gh': md5(array_to_string(toks[i:i+${w - 1}], ' '))})) AS wn FROM t), " +
        "g AS (SELECT doc_id, wn.pos AS pos, wn.gh AS gh FROM gp), " +
        "dup AS (SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS nd FROM g GROUP BY gh) WHERE nd >= 2), " +
        "dpos AS (SELECT DISTINCT doc_id, pos FROM g JOIN dup USING (gh)), " +
        "brk AS (SELECT doc_id, pos, CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL " +
        s"OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $w THEN 1 ELSE 0 END AS ns FROM dpos), " +
        "sp AS (SELECT doc_id, pos, sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM brk), " +
        s"spans AS (SELECT doc_id, min(pos) AS a, max(pos) + ${w - 1} AS b FROM sp GROUP BY doc_id, span_id), " +
        s"qs AS (SELECT doc_id, list({'a': a, 'b': b}) AS sps FROM spans WHERE b - a + 1 >= $MinSpanLen GROUP BY doc_id), " +
        "r AS (SELECT t.doc_id, t.toks, coalesce(q.sps, []) AS sps FROM t LEFT JOIN qs q ON q.doc_id = t.doc_id), " +
        "k AS (SELECT doc_id, toks, list_filter(generate_series(1, len(toks)), j -> len(list_filter(sps, sp -> sp.a <= j AND j <= sp.b)) = 0) AS kp FROM r) " +
        "SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens, CAST(len(toks) - len(kp) AS INT) AS n_removed, " +
        // array_to_string([]) is NULL in DuckDB but '' in Spark's array_join
        "coalesce(array_to_string(list_transform(kp, j -> toks[j]), ' '), '') AS text_clean FROM k"
    },
    "dedup_substring_spans" -> {
      val w = SubstrGram
      s"WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), " +
        s"gp AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - ${w - 1}), " +
        s"i -> {'pos': i, 'gh': md5(array_to_string(toks[i:i+${w - 1}], ' '))})) AS wn FROM t), " +
        "g AS (SELECT doc_id, wn.pos AS pos, wn.gh AS gh FROM gp), " +
        "dup AS (SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS nd FROM g GROUP BY gh) WHERE nd >= 2), " +
        "dpos AS (SELECT DISTINCT doc_id, pos FROM g JOIN dup USING (gh)), " +
        "brk AS (SELECT doc_id, pos, CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL " +
        s"OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $w THEN 1 ELSE 0 END AS ns FROM dpos), " +
        "sp AS (SELECT doc_id, pos, sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM brk), " +
        s"spans AS (SELECT doc_id, span_id, max(pos) - min(pos) + $w AS span_len FROM sp GROUP BY 1, 2), " +
        "pd AS (SELECT doc_id, CAST(count(*) AS INT) AS n_spans, CAST(max(span_len) AS INT) AS max_span_len, " +
        "CAST(sum(span_len) AS INT) AS covered_tokens FROM spans GROUP BY 1) " +
        "SELECT t.doc_id, CAST(len(toks) AS INT) AS n_tokens, coalesce(pd.n_spans, 0) AS n_spans, " +
        "coalesce(pd.max_span_len, 0) AS max_span_len, coalesce(pd.covered_tokens, 0) AS covered_tokens, " +
        "CAST(coalesce(pd.covered_tokens, 0) AS BIGINT) * 1000000 // len(toks) AS covered_share6 " +
        "FROM t LEFT JOIN pd ON t.doc_id = pd.doc_id"
    },
    "dedup_embedding" ->
      // Salt mirror: ceil(bn/cap) computed for ALL labels (== 1 below the
      // cap, where Spark's broadcast side has no row and coalesces to 1).
      ("WITH census AS (SELECT label, count(*) AS bn FROM embeddings GROUP BY label), " +
        s"salted AS (SELECT e.label, e.vec_id, e.embedding, ${graft.functions.hash52Sql("e.vec_id")} % ((c.bn + ${LabelCap - 1}) // $LabelCap) AS salt " +
        "FROM embeddings e JOIN census c ON c.label = e.label), " +
        "grp AS (SELECT label, salt, count(*) AS gn FROM salted GROUP BY 1, 2), " +
        s"bounded AS (SELECT s.* FROM salted s JOIN grp g ON g.label = s.label AND g.salt = s.salt WHERE g.gn <= ${2 * LabelCap}), " +
        "p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, " +
        "round(list_sum(list_transform(generate_series(1, 64), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / " +
        "(sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))) * " +
        "sqrt(list_sum(list_transform(generate_series(1, 64), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 4) AS cos " +
        "FROM bounded a JOIN bounded b ON a.label = b.label AND a.salt = b.salt AND a.vec_id < b.vec_id) " +
        s"SELECT vec_a, vec_b, cos FROM p WHERE cos >= $CosineThreshold"))
}
