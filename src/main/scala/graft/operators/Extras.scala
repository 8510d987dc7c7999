package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.sources.Tables

/** Remaining reference workload surface (SURVEY §2A extras):
  *
  *  - `mr_streaming_pipe` / `mr_streaming_pipe_reduce`: hadoop-streaming
  *    (hadoop-tools/hadoop-streaming) runs arbitrary executables over
  *    record streams via stdin/stdout — PipeMapper before the shuffle,
  *    PipeReducer over the key-sorted stream after it. The Spark-first
  *    analog is RDD.pipe: partition-parallel process fan-out, one external
  *    process per partition; the reduce-side variant adds the keyed
  *    repartition + sortWithinPartitions that reproduce the reducer's
  *    input contract.
  *  - `mr_quasi_monte_carlo`: QuasiMonteCarlo.java estimates pi from a
  *    deterministic low-discrepancy point set; here the point stream is a
  *    portable integer LCG (Knuth multiplicative hashes) so the SQL oracle
  *    replays the exact same points — distributed generate-then-aggregate,
  *    no data read at all.
  *  - `mr_random_text`: RandomTextWriter.java generates deterministic
  *    synthetic text shards; same LCG trick indexes a fixed vocabulary.
  *    Partition-parallel via spark.range (no driver loop).
  */
object Extras {

  /** Tokens piped through an external process (`tr a-z A-Z`), then counted.
    * One process per partition, streaming stdin/stdout — the
    * hadoop-streaming execution model on Spark partitions. */
  def streamingPipe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // whitespace-RUN tokenization (\s+, not just ' '): the pipe protocol
    // is line-oriented — hadoop-streaming records ARE lines and can never
    // contain '\n' (TextInputFormat split them upstream), and rdd.pipe
    // would split a newline-bearing element into two records. Tokenizing
    // on all whitespace (StringTokenizer semantics, what the reference
    // wordcount does) makes every element line-safe by construction.
    // Caught by the round-9 perturbed-corpus parity sweep.
    val words = Tables.load(s, dir, "documents")
      .select(explode(split(col("text"), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .as[String]
    // UTF-8 on the pipe explicitly: rdd.pipe defaults to the JVM's
    // platform charset, which mangles every non-ASCII word to '?' when
    // the platform default isn't UTF-8 (hadoop-streaming is byte/UTF-8
    // oriented end to end). Caught by the round-11 unicode parity sweep.
    val piped = words.rdd.pipe(Seq("tr", "a-z", "A-Z"),
      Map[String, String](), null, null, false, 8192, "UTF-8")
    s.createDataset(piped).toDF("word_upper")
      .groupBy("word_upper").agg(count(lit(1)).as("cnt"))
  }

  /** Reduce-side keyed pipe — the OTHER half of hadoop-streaming:
    * PipeReducer (hadoop-tools/hadoop-streaming/src/main/java/org/apache/
    * hadoop/streaming/PipeReducer.java) feeds the reducer executable a
    * key-SORTED record stream after the shuffle, one process per reduce
    * task (`mr_streaming_pipe` covers only the map-side PipeMapper). The
    * Spark-first form: hash-repartition on the key (the MapReduce
    * partitioner), sortWithinPartitions (the merge-sort every reduce task
    * performs), then one external process per partition. `uniq -c` is the
    * canonical streaming reducer — each key's run is contiguous, so its
    * single output line per key IS the reduce; a key lives in exactly one
    * partition, so counts are exact and partitioning-independent. */
  def streamingPipeReduce(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // line-safe whitespace-run tokenization — see streamingPipe
    val keyed = Tables.load(s, dir, "documents")
      .select(explode(split(col("text"), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
      .repartition(col("word"))
      .sortWithinPartitions("word")
      .as[String]
    // UTF-8 on the pipe — see streamingPipe.
    val piped = keyed.rdd.pipe(Seq("uniq", "-c"),
      Map[String, String](), null, null, false, 8192, "UTF-8")
    // uniq -c lines are "<spaces><count> <word>" (word may be empty).
    val line = s.createDataset(piped).toDF("line")
    line.select(
      regexp_extract(col("line"), "^\\s*(\\d+) (.*)$", 2).as("word"),
      regexp_extract(col("line"), "^\\s*(\\d+) (.*)$", 1).cast("long").as("cnt"))
  }

  val QmcN = 100000L

  /** Pi by quasi-random sampling: x_i, y_i from portable integer LCGs. */
  def quasiMonteCarlo(s: SparkSession, dir: String): DataFrame = {
    val m = 4294967296L // 2^32
    val x = ((col("id") * 2654435761L + 12345L) % m).cast("double") / m.toDouble
    val y = ((col("id") * 2246822519L + 54321L) % m).cast("double") / m.toDouble
    s.range(1, QmcN + 1)
      .select(when(x * x + y * y <= 1.0, 1L).otherwise(0L).as("inside"))
      .agg(count(lit(1)).as("n"),
        (sum(col("inside")).cast("double") * 4.0 / QmcN.toDouble).as("pi_estimate"))
  }

  val Vocab: Seq[String] = Seq(
    "alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa")
  val RandN = 10000L

  /** Deterministic synthetic text rows (RandomTextWriter analog). */
  def randomText(s: SparkSession, dir: String): DataFrame = {
    val m = 4294967296L
    val vocab = array(Vocab.map(lit): _*)
    def pick(mult: Long, add: Long) =
      element_at(vocab, (((col("id") * mult + add) % m) % Vocab.size).cast("int") + 1)
    s.range(1, RandN + 1)
      .select(col("id"), pick(2654435761L, 7L).as("word1"), pick(2246822519L, 13L).as("word2"))
  }

  val KmvK = 64
  val Two52 = 4503599627370496.0 // 16^13: the h-value range (shared with stream_sketch_distinct)

  /** KMV (k-minimum-values) distinct-count sketch per source — the
    * mergeable cardinality estimator a 100 TB pipeline runs where exact
    * countDistinct can't (Hadoop's ValueAggregator "uniq" at scale).
    * Unlike HLL, KMV over md5 is engine-portable: estimate =
    * (k-1) / (h_k / 16^13) where h_k is the k-th smallest 52-bit hash of
    * the distinct 3-shingles, so the oracle replays it bit for bit.
    * The k-th smallest comes from [[kmvKth]]. The exact distinct count
    * rides along for the accuracy audit (spec asserts the 1/sqrt(k) error
    * band); the sketch is the product. */
  def sketchDistinct(s: SparkSession, dir: String): DataFrame = {
    // ONE corpus explode + distinct for BOTH consumers: without the materialization the kth chain and the exact count
    // each re-scan and re-aggregate the full (source, g) relation — the
    // plan showed two Generate+Exchange(source, g) subtrees over two text
    // scans. The checkpointed rows are the distinct (source, g, h)
    // triples the two branches share.
    val hashed = Tables.load(s, dir, "documents")
      .select(col("source"), explode(ShingleExpressions.shingles(col("text"), 3)).as("g"))
      .distinct()
      .select(col("source"), col("g"), hash52(col("g")).as("h"))
      .localCheckpoint()
    val exact = hashed.groupBy("source").agg(count(lit(1)).as("n_exact"))
    kmvKth(hashed, "source", "g").join(exact, Seq("source"))
      .select(col("source"), col("n_exact"), col("h_k"), kmvEstimate(col("h_k")).as("est_distinct"))
  }

  /** (key, h_k): the k-th smallest 52-bit hash `h` per `key` of a
    * (key, item, h) relation, ties ordered by `item`; a key holding fewer
    * than [[KmvK]] items has no row. Found in two bounded phases — rank
    * within (key, h%256) salt buckets keeps only k rows per bucket (no
    * task ever sorts a whole key), then the global rank runs over <= 256k
    * survivors per key. Exact min-k: a global top-k member is within the
    * top-k of its own salt bucket by construction. */
  private[graft] def kmvKth(hashed: DataFrame, key: String, item: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wSalt = Window.partitionBy(col(key), pmod(col("h"), lit(256)))
      .orderBy(col("h").asc, col(item).asc)
    val wGlobal = Window.partitionBy(col(key)).orderBy(col("h").asc, col(item).asc)
    hashed
      .withColumn("rs", row_number().over(wSalt)).filter(col("rs") <= KmvK)
      .withColumn("rn", row_number().over(wGlobal)).filter(col("rn") === KmvK)
      .select(col(key), col("h").as("h_k"))
  }

  /** The KMV distinct estimate (k-1)·2^52/h_k on the 1e-6 grid.
    * floor(x*1e6+0.5), not round(): engine round() implementations
    * disagree on .5e-7 half-way quotients; floor over identical IEEE
    * doubles cannot. */
  private[graft] def kmvEstimate(hk: Column): Column =
    floor(lit((KmvK - 1) * Two52) / hk * 1e6 + 0.5) / 1e6

  val CmsDepth = 4
  val CmsWidth = 256
  val CmsTopK = 20

  /** Count-min-sketch heavy hitters — the third sketch in the family
    * (KMV cardinality above, HLL++ in streaming): approximate top-k token
    * frequencies from a d x w counter grid whose size is INDEPENDENT of
    * corpus size. Each token instance increments d=4 cells (seeded md5
    * buckets — engine-portable, so the oracle replays the sketch bit for
    * bit); a token's estimate is the min of its cells (classic CMS
    * overestimate-only bound, spec-asserted est >= exact).
    *
    * Scale shape: ONE map-side-combined wordcount shuffle, then everything
    * runs on the vocab-sized count vector — CMS over counts is identical
    * to CMS over the increment stream, but the seeded hashes are computed
    * once per DISTINCT word, not once per instance (measured ~2x faster).
    * The cell aggregate yields at most d*w = 1024 rows from any corpus and
    * the probe joins the BROADCAST sketch map-side; the exact counts ride
    * along as the accuracy audit (at 100 TB a deployment drops that column
    * and keeps only the O(d*w) sketch). Top-k is sort-limit
    * (TakeOrderedAndProject), never a global sort. */
  def sketchTopK(s: SparkSession, dir: String): DataFrame = {
    val seeds = array((0 until CmsDepth).map(lit): _*)
    def bucket = pmod(
      graft.functions.hash52(concat(col("i").cast("string"), lit(":"), col("word"))),
      lit(CmsWidth.toLong))
    // Vocab-sized; three consumers (sketch, probe, audit) — materialize once.
    val wc = Tables.load(s, dir, "documents")
      .select(explode(wsTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("exact"))
      .localCheckpoint()
    val sketch = wc.select(col("word"), col("exact"), explode(seeds).as("i"))
      .select(col("i"), bucket.as("b"), col("exact"))
      .groupBy("i", "b").agg(sum(col("exact")).as("c"))
    val probes = wc.select(col("word"), explode(seeds).as("i"))
      .withColumn("b", bucket)
    val est = probes.join(broadcast(sketch), Seq("i", "b"))
      .groupBy("word").agg(min(col("c")).as("est"))
    est.join(wc, Seq("word"))
      .select(col("word"), col("est"), col("exact"))
      .orderBy(col("est").desc, col("word").asc)
      .limit(CmsTopK)
  }

  val BloomM = 65536
  val BloomK = 4

  /** Distributed BLOOM FILTER build + probe with a false-positive audit —
    * the fourth sketch in the family (KMV cardinality, CMS heavy hitters,
    * HLL++ in streaming): the pre-join membership gate a 100 TB pipeline
    * ships to the probe side instead of the build side's keys. Build keys
    * (BUILDING-segment customers) each set k=4 md5-derived positions in an
    * m=65536-bit space; the filter materializes as the DISTINCT position
    * set (≤ m rows — bounded by the SKETCH size, not the data, and
    * broadcastable); a probe key passes iff all k of its positions are
    * set. Overestimate-only by construction: every true member passes
    * (spec-asserted), non-members pass at the classic fp rate — the 1-row
    * audit reports probed/members/passed/false-positives and the rate.
    * Seeded positions are the engine-portable hash52 of "key:i", so the
    * oracle replays the filter bit for bit. */
  def sketchBloom(s: SparkSession, dir: String): DataFrame = {
    val bld = Tables.load(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("key")).distinct()
    val prb = Tables.load(s, dir, "orders")
      .select(col("o_custkey").as("key")).distinct()
    sketchBloomOf(bld, prb, BloomM.toLong, BloomK)
  }

  /** The build+probe+audit engine over any (key) relations — `m`/`k` are
    * parameters so the spec can force a saturated filter and measure real
    * false positives; the gated query runs the production-shaped m. */
  private[graft] def sketchBloomOf(bldIn: DataFrame, prbIn: DataFrame,
      m: Long, k: Int): DataFrame = {
    def positions(key: Column): Column =
      array((0 until k).map(i =>
        pmod(graft.functions.hash52(concat(key.cast("string"), lit(":" + i))),
          lit(m))): _*)
    val bld = bldIn.localCheckpoint()
    val bits = bld.select(explode(positions(col("key"))).as("pos")).distinct()
    val prb = prbIn.localCheckpoint()
    val pass = prb.select(col("key"), explode(positions(col("key"))).as("pos"))
      .join(bits, Seq("pos"), "left_semi")
      .groupBy("key").agg(count(lit(1)).as("nhit"))
      .filter(col("nhit") === k)
      .select(col("key"))
      .localCheckpoint()
    // TWO audit passes, not four: probed/members
    // fold into one flag-join aggregate over prb, pass/false-positives
    // into one over pass — the semi/anti pairs re-scanned each relation
    // twice for counts one membership flag carries. distinct() keeps the
    // flag join multiplicity-safe for arbitrary bldIn (the gated query's
    // bld is already distinct).
    val mem = bld.distinct().withColumn("is_m", lit(1))
    val audit = prb.join(mem, Seq("key"), "left")
      .agg(count(lit(1)).as("n_probed"), count(col("is_m")).as("n_members"))
      .crossJoin(pass.join(mem, Seq("key"), "left")
        .agg(count(lit(1)).as("n_pass"),
          count(when(col("is_m").isNull, 1)).as("n_false_pos")))
    audit.withColumn("fp_rate",
      when(col("n_probed") > col("n_members"),
        floor(col("n_false_pos").cast("double") /
          (col("n_probed") - col("n_members")) * 1e6 + 0.5) / 1e6)
        .otherwise(lit(0.0)))
  }

  // --- wiring --------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mr_sketch_bloom" -> (sketchBloom _),
    "mr_streaming_pipe" -> (streamingPipe _),
    "mr_streaming_pipe_reduce" -> (streamingPipeReduce _),
    "mr_quasi_monte_carlo" -> (quasiMonteCarlo _),
    "mr_random_text" -> (randomText _),
    "mr_sketch_distinct" -> (sketchDistinct _),
    "mr_sketch_topk" -> (sketchTopK _))

  private val vocabSql = Vocab.map(w => s"'$w'").mkString("[", ", ", "]")

  def oracles: Map[String, String] = Map(
    "mr_sketch_bloom" -> {
      val posList = (0 until BloomK)
        .map(i => s"${graft.functions.hash52Sql(s"CAST(key AS VARCHAR) || ':$i'")} % $BloomM")
        .mkString("[", ", ", "]")
      val nMembers = "(SELECT count(*) FROM prb WHERE key IN (SELECT key FROM bld))"
      val nFp = "(SELECT count(*) FROM pass WHERE key NOT IN (SELECT key FROM bld))"
      s"WITH bld AS (SELECT DISTINCT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'), " +
        s"bits AS (SELECT DISTINCT pos FROM (SELECT unnest($posList) AS pos FROM bld)), " +
        "prb AS (SELECT DISTINCT o_custkey AS key FROM orders), " +
        s"pp AS (SELECT key, unnest($posList) AS pos FROM prb), " +
        "hits AS (SELECT key, count(*) AS nhit FROM pp WHERE pos IN (SELECT pos FROM bits) GROUP BY key), " +
        s"pass AS (SELECT key FROM hits WHERE nhit = $BloomK) " +
        s"SELECT (SELECT count(*) FROM prb) AS n_probed, $nMembers AS n_members, " +
        s"(SELECT count(*) FROM pass) AS n_pass, $nFp AS n_false_pos, " +
        s"CASE WHEN (SELECT count(*) FROM prb) > $nMembers THEN " +
        s"floor(CAST($nFp AS DOUBLE) / ((SELECT count(*) FROM prb) - $nMembers) * 1000000 + 0.5) / 1000000 " +
        "ELSE 0.0 END AS fp_rate"
    },
    "mr_streaming_pipe" ->
      // translate(), not upper(): the pipe is `tr a-z A-Z` — ASCII-only
      // case mapping. ICU upper() would also uppercase 'é'→'É' and expand
      // 'ß'→'SS', changing word identity on non-ASCII corpora.
      ("SELECT translate(word, 'abcdefghijklmnopqrstuvwxyz', 'ABCDEFGHIJKLMNOPQRSTUVWXYZ') AS word_upper, count(*) AS cnt FROM " +
        "(SELECT unnest(regexp_split_to_array(text, '\\s+')) AS word FROM documents) " +
        "WHERE length(word) > 0 GROUP BY 1"),
    "mr_streaming_pipe_reduce" ->
      ("SELECT word, count(*) AS cnt FROM " +
        "(SELECT unnest(regexp_split_to_array(text, '\\s+')) AS word FROM documents) " +
        "WHERE length(word) > 0 GROUP BY word"),
    "mr_quasi_monte_carlo" ->
      (s"SELECT count(*) AS n, CAST(sum(CASE WHEN x*x + y*y <= 1.0 THEN 1 ELSE 0 END) AS DOUBLE) * 4.0 / $QmcN AS pi_estimate FROM " +
        s"(SELECT CAST((i * 2654435761 + 12345) % 4294967296 AS DOUBLE) / 4294967296 AS x, " +
        s"CAST((i * 2246822519 + 54321) % 4294967296 AS DOUBLE) / 4294967296 AS y " +
        s"FROM generate_series(1, $QmcN) t(i))"),
    "mr_random_text" ->
      (s"SELECT i AS id, $vocabSql[CAST(((i * 2654435761 + 7) % 4294967296) % ${Vocab.size} AS INT) + 1] AS word1, " +
        s"$vocabSql[CAST(((i * 2246822519 + 13) % 4294967296) % ${Vocab.size} AS INT) + 1] AS word2 " +
        s"FROM generate_series(1, $RandN) t(i)"),
    "mr_sketch_topk" -> {
      val bucketSql = graft.functions.hash52Sql("(CAST(i AS VARCHAR) || ':' || word)") + s" % $CmsWidth"
      val seedsSql = (0 until CmsDepth).mkString("[", ", ", "]")
      "WITH toks AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents), " +
        s"cells AS (SELECT i, $bucketSql AS b FROM toks CROSS JOIN (SELECT unnest($seedsSql) AS i)), " +
        "sk AS (SELECT i, b, count(*) AS c FROM cells GROUP BY i, b), " +
        "dw AS (SELECT DISTINCT word FROM toks), " +
        s"pr AS (SELECT word, i, $bucketSql AS b FROM dw CROSS JOIN (SELECT unnest($seedsSql) AS i)), " +
        "est AS (SELECT word, min(c) AS est FROM pr JOIN sk USING (i, b) GROUP BY word), " +
        "ex AS (SELECT word, count(*) AS exact FROM toks GROUP BY word) " +
        "SELECT word, est, exact FROM est JOIN ex USING (word) " +
        s"ORDER BY est DESC, word ASC LIMIT $CmsTopK"
    },
    "mr_sketch_distinct" -> {
      // 52-bit hash = first 13 md5 hex digits (single global rank — exact
      // min-k equals the two-phase salted construction by definition).
      val hex13 = hexIntSql("m", 1, 13)
      "WITH sh AS (SELECT DISTINCT source, unnest(list_transform(generate_series(1, len(string_split(text, ' ')) - 2), " +
        "i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS g FROM documents), " +
        s"h AS (SELECT source, g, CAST($hex13 AS BIGINT) AS h FROM (SELECT source, g, md5(g) AS m FROM sh)), " +
        "r AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h, g) AS rn FROM h), " +
        "e AS (SELECT source, count(*) AS n_exact FROM sh GROUP BY source) " +
        s"SELECT r.source, n_exact, h AS h_k, floor(${(KmvK - 1).toDouble * Two52} / h * 1000000 + 0.5) / 1000000 AS est_distinct " +
        s"FROM r JOIN e ON r.source = e.source WHERE rn = $KmvK"
    })
}
