package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** UNIGRAM-LM tokenizer (the SentencePiece default algorithm): the second tokenizer family next to the BPE loop.
  * Kudo 2018's construction, made deterministic and oracle-replayable
  * with the engine's integer discipline:
  *
  *  - SEED: every substring (length 1..[[UniMaxPieceLen]]) of the corpus
  *    word vocabulary, counted with word-frequency multiplicity; the
  *    candidate set is all single characters (coverage — the DP can
  *    always fall back to them) plus the top [[UniSeedVocab]]−|chars|
  *    multi-character substrings by (count DESC, piece ASC).
  *  - LIKELIHOODS: piece costs are integer-quantized negative
  *    log-probabilities on the 1e6 grid — cost6(p) = floor(ln((T+|S|)/
  *    (cnt(p)+1))·1e6 + 0.5), add-one smoothed so unused candidates stay
  *    finite (the BPE float discipline: ONE ln() per piece over
  *    identically assembled doubles, quantized once).
  *  - EM ([[UniIters]] hard-EM / Viterbi rounds): segment the WORD
  *    VOCABULARY (never the corpus — the bpeTrain scale shape) under the
  *    current costs with exact integer DP, recount piece usage with word
  *    frequencies, re-derive costs. Hard EM (Viterbi counts instead of
  *    forward-backward expectations) is the standard deterministic
  *    simplification; the E-step argmax is total (tie-break: lower cost,
  *    then LONGER piece — the SentencePiece preference).
  *  - PRUNE to [[UniVocab]]: all single characters plus the top
  *    remaining multi-character pieces by final usage (count DESC, piece
  *    ASC) — the likelihood-loss prune collapsed onto usage counts,
  *    which the hard-EM counts make equivalent for pieces the Viterbi
  *    path never uses.
  *  - IDS: row_number over piece ASC (deterministic, engine-portable).
  *
  * The oracle replays the ENTIRE train→encode chain from the raw corpus:
  * the Viterbi DP is a recursive CTE per EM round (state = the per-word
  * best-cost and best-segmentation prefix lists; 4 candidate pieces per
  * step, argmin via list_sort over (cost, tie) structs), so both engines
  * walk the identical weight trajectory.
  *
  * 100 TB shape: the corpus is touched once per consumer (word-frequency
  * aggregate / the encode scan); every EM step runs on the distinct-word
  * relation; the model is ≤ [[UniSeedVocab]] rows (registry-persisted by
  * AnnModels.uniVocab, broadcast to the encode as a map literal inside
  * whole-stage-codegen-friendly HOFs); collects are model-sized. */
object UnigramLm {

  /** Candidate piece length cap — bounds the DP fan-in at 4. */
  val UniMaxPieceLen = 4
  /** Seed candidate budget (chars always kept on top of the rank). */
  val UniSeedVocab = 384
  /** Final vocabulary budget (chars always kept). */
  val UniVocab = 256
  /** Hard-EM rounds (the oracle replays each as a recursive CTE). */
  val UniIters = 2

  /** PRODUCTION-budget constants (the bpe_train_256 pattern: the trainer and the recursive-CTE oracle are
    * budget-parametric, so the production variant is a constant bump,
    * not a rewrite): ≥ 1024 final pieces, a wider seed pool, one more
    * hard-EM round. The `text_unigram_vocab_1k` / `text_unigram_ids_1k`
    * chain gates these; every EM step still runs on the DISTINCT-WORD
    * relation, so the budget scales the model, never the corpus cost. */
  val UniVocabBig = 1024
  val UniSeedVocabBig = 1536
  val UniItersBig = 3

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  private def wsTokens(c: Column): Column = split(c, " ", -1)

  /** All substrings of `w` with length 1..[[UniMaxPieceLen]] (with
    * multiplicity — overlapping occurrences all count, the BPE pair-count
    * convention). */
  private[graft] def allSubstrings(w: Column): Column =
    flatten(transform(sequence(lit(1), length(w)), i =>
      transform(sequence(i, least(i + (UniMaxPieceLen - 1), length(w))), j =>
        w.substr(i, j - i + 1))))

  /** The corpus word vocabulary (w, f) — non-empty whitespace tokens with
    * corpus frequency; every EM step runs on THIS relation. */
  private def wordVocab(d: DataFrame): DataFrame =
    d.select(explode(wsTokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))

  /** Integer-quantized piece costs of a (p, cnt) candidate relation:
    * cost6 = floor(ln((T+|S|)/(cnt+1))·1e6 + 0.5) — computed as ONE Spark
    * expression (identical double assembly to the oracle's ln), collected
    * model-sized. */
  private def costsOf(cand: DataFrame): Map[String, Long] =
    cand.crossJoin(broadcast(cand.agg(
        coalesce(sum(col("cnt")), lit(0L)).as("t"), count(lit(1)).as("v"))))
      .select(col("p"),
        floor(log((col("t") + col("v")).cast("double") /
          (col("cnt") + 1).cast("double")) * 1e6 + 0.5).cast("long").as("c6"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Exact-integer Viterbi segmentation of a word column under piece
    * costs: DP over positions via ONE aggregate() HOF — the accumulator
    * carries the best-cost and best-segmentation prefix arrays; each
    * position considers the ≤ [[UniMaxPieceLen]] candidate pieces ending
    * there (single characters are always in the vocabulary, so the DP is
    * total) and picks the (cost, tie) minimum, tie = prefer-longest-piece.
    * Pure Catalyst expressions — partition-parallel, no shuffle, no UDF. */
  private[graft] def viterbiSeg(word: Column, costs: Map[String, Long]): Column = {
    val cmap = typedLit(costs)
    val L = UniMaxPieceLen
    val candType = "struct<sc:bigint,tb:int,sg:string>"
    aggregate(
      sequence(lit(1), length(word)),
      struct(array(lit(0L)).as("bs"), array(lit("")).as("sg")),
      (acc, p) => {
        val bs = acc.getField("bs")
        val sg = acc.getField("sg")
        val cands = (1 to L).map { l =>
          val idx = (p - l + 1).cast("int") // 1-based index of prefix p-l
          val piece = word.substr((p - (l - 1)).cast("int"), lit(l))
          val cost = try_element_at(cmap, piece)
          val prevSg = element_at(sg, idx)
          when(p >= l && cost.isNotNull,
            struct((element_at(bs, idx) + cost).as("sc"),
              lit(L - l).as("tb"),
              when(prevSg === "", piece)
                .otherwise(concat(prevSg, lit(" "), piece)).as("sg")))
            .otherwise(lit(null).cast(candType))
        }
        // argmin via array_min over the candidate array — NULL candidates
        // are skipped and struct ordering is (sc, tb, sg), exactly the
        // oracle's list_sort(list_filter(...))[1]. A pairwise when-chain
        // reduce here duplicates each candidate subtree ~4^k times and the
        // resulting ~10^5-node lambda made PLANNING the query cost seconds
        // (measured: 7.6 s to segment 31 distinct words).
        val best = array_min(array(cands: _*))
        struct(concat(bs, array(best.getField("sc"))).as("bs"),
          concat(sg, array(best.getField("sg"))).as("sg"))
      },
      acc => element_at(acc.getField("sg"), length(word) + 1))
  }

  /** The full trainer (seed → `iters` hard-EM rounds → prune → ids)
    * over an arbitrary documents relation — what AnnModels.uniVocab /
    * uniVocabBig run ONCE per corpus state. Budget-parametric (r16).
    * Returns (token_id, piece, cnt, cost6). */
  private[graft] def uniTrainOf(d: DataFrame,
      seedVocab: Int = UniSeedVocab, uniVocab: Int = UniVocab,
      iters: Int = UniIters): DataFrame = {
    val words = wordVocab(d).localCheckpoint()
    val subs = words
      .select(col("f"), explode(allSubstrings(col("w"))).as("p"))
      .groupBy("p").agg(sum(col("f")).as("cnt"))
      .localCheckpoint()
    val chars = subs.filter(length(col("p")) === 1)
    val nChars = chars.count()
    def topMulti(rel: DataFrame, budget: Int): DataFrame = rel
      .filter(length(col("p")) > 1)
      .orderBy(col("cnt").desc, col("p").asc)
      .limit(math.max(0, budget - nChars.toInt))
    var cand = chars.unionByName(topMulti(subs, seedVocab)).localCheckpoint()
    for (_ <- 1 to iters) {
      val seg = viterbiSeg(col("w"), costsOf(cand))
      val used = words.select(col("f"), explode(split(seg, " ")).as("p"))
        .groupBy("p").agg(sum(col("f")).as("cnt"))
      cand = cand.select(col("p")).join(used, Seq("p"), "left")
        .select(col("p"), coalesce(col("cnt"), lit(0L)).as("cnt"))
        .localCheckpoint()
    }
    val kept = chars.select(col("p")).join(cand, Seq("p"))
      .unionByName(topMulti(cand, uniVocab))
      .localCheckpoint()
    val c6 = costsOf(kept)
    // token ids via a triangular broadcast
    // count over the vocab-budget-sized kept relation (distinct pieces by
    // construction: the char and multi-char sides are disjoint) — id =
    // number of strictly-smaller pieces, identical to the former
    // row_number(orderBy p) − 1; no unpartitioned window in the trainer.
    kept
      .join(broadcast(kept.select(col("p").as("bp"))), col("bp") < col("p"), "left")
      .groupBy(col("p"), col("cnt"))
      .agg(count(col("bp")).cast("int").as("token_id"))
      .select(col("token_id").cast("int").as("token_id"),
        col("p").as("piece"), col("cnt"),
        try_element_at(typedLit(c6), col("p")).as("cost6"))
  }

  /** The trained vocabulary, registry-served — (token_id, piece, cnt,
    * cost6), ≤ [[UniVocab]] rows. */
  def unigramVocab(s: SparkSession, dir: String): DataFrame =
    AnnModels.uniVocab(s, dir)

  /** The PRODUCTION-budget vocabulary — ≤ [[UniVocabBig]] rows, its own
    * registry key (the two budgets coexist in a long-lived store). */
  def unigramVocabBig(s: SparkSession, dir: String): DataFrame =
    AnnModels.uniVocabBig(s, dir)

  /** The served model collected as (piece → cost6, piece → token_id) —
    * model-sized, the trainedMerges accessor discipline. */
  private def model(s: SparkSession, dir: String,
      vocab: (SparkSession, String) => DataFrame = unigramVocab)
      : (Map[String, Long], Map[String, Int]) = {
    val rows = vocab(s, dir).collect()
    (rows.map(r => r.getString(1) -> r.getLong(3)).toMap,
      rows.map(r => r.getString(1) -> r.getInt(0)).toMap)
  }

  /** Per-DISTINCT-word segmentations under the served costs — the Spark
    * twin of the oracle's `wm` map (r15 bench finding: the Viterbi HOF
    * per word INSTANCE made the two encode queries the suite's heaviest
    * at 3.2 s warm; words repeat ~100× on any real corpus, so the DP
    * runs once per VOCABULARY word and instances join it back —
    * vocab-sized compute, token-bounded shuffle). */
  private def wordSegs(s: SparkSession, dir: String,
      costs: Map[String, Long]): DataFrame =
    docs(s, dir).select(explode(wsTokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .select(col("w"), viterbiSeg(col("w"), costs).as("seg"))

  private def nonEmptyToks: Column =
    filter(wsTokens(col("text")), w => length(w) > 0)

  /** Per-document unigram-LM token ids — the `text_bpe_trained_ids`
    * shape (doc_id, token_ids, n_tokens) under the served vocabulary:
    * the per-word ids come from the distinct-word segmentation relation
    * (one DP per vocabulary word), documents re-assemble by position
    * (bounded per-doc sort — token-count rows, never corpus-keyed). */
  def unigramIds(s: SparkSession, dir: String): DataFrame =
    unigramIdsWith(s, dir, unigramVocab)

  /** [[unigramIds]] under the production-budget vocabulary. */
  def unigramIdsBig(s: SparkSession, dir: String): DataFrame =
    unigramIdsWith(s, dir, unigramVocabBig)

  private def unigramIdsWith(s: SparkSession, dir: String,
      vocab: (SparkSession, String) => DataFrame): DataFrame = {
    val (costs, ids) = model(s, dir, vocab)
    val idm = typedLit(ids)
    val segs = wordSegs(s, dir, costs)
      .select(col("w"), array_join(transform(split(col("seg"), " "),
        t => try_element_at(idm, t).cast("string")), " ").as("wids"))
    val assembled = docs(s, dir)
      .select(col("doc_id"), posexplode(nonEmptyToks))
      .withColumnRenamed("col", "w")
      .join(segs, Seq("w"))
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("wids")))),
        x => x.getField("wids")), " ").as("tids"))
    docs(s, dir).select(col("doc_id"))
      .join(assembled, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("tids"), lit("")).as("token_ids"))
      .select(col("doc_id"), col("token_ids"),
        when(col("token_ids") === "", 0)
          .otherwise(size(split(col("token_ids"), " "))).as("n_tokens"))
  }

  /** Unigram-LM fertility per language — the [[TextOps.bpeFertility]]
    * audit on the second tokenizer family, so the two families compare
    * row-for-row (same n_docs/n_words columns, token counts from the
    * served unigram vocabulary via the distinct-word relation). */
  def unigramFertility(s: SparkSession, dir: String): DataFrame =
    unigramFertilityWith(s, dir, unigramVocab)

  /** The fertility audit under the PRODUCTION-budget vocabulary — the
    * row the budget-matched family comparison reads (spec-pinned). */
  def unigramFertilityBig(s: SparkSession, dir: String): DataFrame =
    unigramFertilityWith(s, dir, unigramVocabBig)

  private def unigramFertilityWith(s: SparkSession, dir: String,
      vocab: (SparkSession, String) => DataFrame): DataFrame = {
    val (costs, _) = model(s, dir, vocab)
    val wn = wordSegs(s, dir, costs)
      .select(col("w"), size(split(col("seg"), " ")).cast("long").as("nu"))
    val tokStats = docs(s, dir)
      .select(col("lang"), explode(nonEmptyToks).as("w"))
      .join(wn, Seq("w"))
      .groupBy("lang")
      .agg(count(lit(1)).as("nw"), sum(col("nu")).as("nu"))
    docs(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(octet_length(col("text")).cast("long")).as("n_bytes"))
      .join(tokStats, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("nw"), lit(0L)).as("n_words"),
        coalesce(col("nu"), lit(0L)).as("n_uni"), col("n_bytes"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_uni"),
        expr("CASE WHEN n_words > 0 THEN (n_uni * 1000000) DIV n_words END")
          .as("fertility6"),
        expr("CASE WHEN n_uni > 0 THEN (n_bytes * 1000000) DIV n_uni END")
          .as("bytes_per_token6"))
  }

  // ---- oracle SQL ------------------------------------------------------

  /** Recursive-CTE Viterbi over `w0(w, f)` under cost relation
    * `costRel(p, c6)` — the SQL twin of [[viterbiSeg]]: state rows carry
    * the best-cost and best-segmentation prefix LISTS; each step LEFT
    * JOINs the ≤ 4 candidate pieces and picks the (cost, tie) minimum by
    * sorting the non-null candidate structs. */
  private def vitCte(name: String, costRel: String): String = {
    val L = UniMaxPieceLen
    val cands = (1 to L).map { l =>
      val idx = s"v.i + 2 - $l"
      val piece = s"substr(v.w, $idx, $l)"
      s"CASE WHEN v.i + 1 >= $l AND c$l.c6 IS NOT NULL THEN " +
        s"{'sc': v.bs[$idx] + c$l.c6, 'tb': ${L - l}, " +
        s"'sg': CASE WHEN v.sg[$idx] = '' THEN $piece " +
        s"ELSE v.sg[$idx] || ' ' || $piece END} ELSE NULL END"
    }.mkString(", ")
    val joins = (1 to L).map(l =>
      s"LEFT JOIN $costRel c$l ON c$l.p = substr(v.w, v.i + 2 - $l, $l)").mkString(" ")
    s"$name(w, f, i, bs, sg) AS (" +
      "SELECT w, f, 0, [CAST(0 AS BIGINT)], [''] FROM w0 " +
      "UNION ALL " +
      "SELECT w, f, i + 1, list_append(bs, best['sc']), list_append(sg, best['sg']) FROM (" +
      s"SELECT v.w, v.f, v.i, v.bs, v.sg, " +
      s"list_sort(list_filter([$cands], x -> x IS NOT NULL))[1] AS best " +
      s"FROM $name v $joins WHERE v.i < length(v.w)))"
  }

  /** cost CTE body over candidate relation `cd(p, cnt)`. */
  private def costSql(cd: String): String =
    s"SELECT p, CAST(floor(ln((t.t + t.v)::DOUBLE / (cnt + 1)::DOUBLE) * 1000000 + 0.5) AS BIGINT) AS c6 " +
      s"FROM $cd CROSS JOIN (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS t, count(*) AS v FROM $cd) t"

  /** The shared train replay: seed → EM rounds → prune → `vocab`
    * (token_id, piece, cnt, cost6) and `costk` (p, c6). BUDGET-PARAMETRIC
    * (r16): the production-count chain is the same CTE text at different
    * constants — the bpeTrainBatchedCtes discipline. */
  private def uniTrainCtesFor(seedVocab: Int, uniVocab: Int,
      iters: Int): String = {
    val L = UniMaxPieceLen
    val em = (1 to iters).map { r =>
      s"${vitCte(s"vit$r", s"cost${r - 1}")}, " +
        s"seg$r AS (SELECT w, f, sg[length(w) + 1] AS seg FROM vit$r WHERE i = length(w)), " +
        s"u$r AS (SELECT p, CAST(sum(f) AS BIGINT) AS c FROM " +
        s"(SELECT f, unnest(string_split(seg, ' ')) AS p FROM seg$r) GROUP BY p), " +
        s"cd$r AS MATERIALIZED (SELECT cd0.p, coalesce(u$r.c, 0) AS cnt FROM cd0 LEFT JOIN u$r ON cd0.p = u$r.p), " +
        s"cost$r AS MATERIALIZED (${costSql(s"cd$r")})"
    }.mkString(", ")
    "w0 AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS f FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) WHERE length(w) > 0 GROUP BY w), " +
      "sub AS MATERIALIZED (SELECT p, CAST(sum(f) AS BIGINT) AS cnt FROM (" +
      "SELECT f, unnest(flatten(list_transform(generate_series(1, length(w)), i -> " +
      s"list_transform(generate_series(i, least(i + ${L - 1}, length(w))), j -> " +
      "substr(w, CAST(i AS INT), CAST(j - i + 1 AS INT)))))) AS p FROM w0) GROUP BY p), " +
      "ch AS (SELECT p, cnt FROM sub WHERE length(p) = 1), " +
      "nc0 AS (SELECT count(*) AS n FROM ch), " +
      "mu0 AS (SELECT p, cnt FROM (SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p ASC) AS rn " +
      s"FROM sub WHERE length(p) > 1) CROSS JOIN nc0 WHERE rn <= $seedVocab - n), " +
      "cd0 AS MATERIALIZED (SELECT p, cnt FROM ch UNION ALL SELECT p, cnt FROM mu0), " +
      s"cost0 AS MATERIALIZED (${costSql("cd0")}), " +
      s"$em, " +
      s"kch AS (SELECT p, cnt FROM cd$iters WHERE length(p) = 1), " +
      "kmu AS (SELECT p, cnt FROM (SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p ASC) AS rn " +
      s"FROM cd$iters WHERE length(p) > 1) CROSS JOIN nc0 WHERE rn <= $uniVocab - n), " +
      "kd AS MATERIALIZED (SELECT p, cnt FROM kch UNION ALL SELECT p, cnt FROM kmu), " +
      s"costk AS MATERIALIZED (${costSql("kd")}), " +
      "vocab AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY kd.p) - 1 AS INT) AS token_id, " +
      "kd.p AS piece, kd.cnt AS cnt, ck.c6 AS cost6 FROM kd JOIN costk ck ON kd.p = ck.p)"
  }

  private lazy val uniTrainCtes: String =
    uniTrainCtesFor(UniSeedVocab, UniVocab, UniIters)
  private lazy val uniTrainCtesBig: String =
    uniTrainCtesFor(UniSeedVocabBig, UniVocabBig, UniItersBig)

  private def uniVocabSqlOver(ctes: String): String =
    s"WITH RECURSIVE $ctes SELECT token_id, piece, cnt, cost6 FROM vocab"
  private lazy val uniVocabSql: String = uniVocabSqlOver(uniTrainCtes)
  private lazy val uniVocabBigSql: String = uniVocabSqlOver(uniTrainCtesBig)

  /** Train replay + the final encode Viterbi, ending in `wm` (word →
    * space-joined piece string) and `im` (piece → token_id). */
  private def uniEncodeCtesOver(trainCtes: String): String =
    s"$trainCtes, ${vitCte("vite", "costk")}, " +
      "sege AS (SELECT w, sg[length(w) + 1] AS seg FROM vite WHERE i = length(w)), " +
      "wm AS (SELECT map(list(w), list(seg)) AS m FROM sege), " +
      "im AS (SELECT map(list(piece), list(token_id)) AS m FROM vocab)"
  private lazy val uniEncodeCtes: String = uniEncodeCtesOver(uniTrainCtes)

  private def uniIdsSqlOver(encodeCtes: String): String =
    s"WITH RECURSIVE $encodeCtes, " +
      "e AS (SELECT doc_id, array_to_string(list_transform(" +
      "list_filter(string_split(text, ' '), w -> length(w) > 0), " +
      "w -> array_to_string(list_transform(string_split(wm.m[w][1], ' '), " +
      "t -> CAST(im.m[t][1] AS VARCHAR)), ' ')), ' ') AS token_ids " +
      "FROM documents CROSS JOIN wm CROSS JOIN im) " +
      "SELECT doc_id, token_ids, CASE WHEN token_ids = '' THEN 0 " +
      "ELSE CAST(len(string_split(token_ids, ' ')) AS INT) END AS n_tokens FROM e"

  private lazy val uniIdsSql: String = uniIdsSqlOver(uniEncodeCtes)
  private lazy val uniIdsBigSql: String =
    uniIdsSqlOver(uniEncodeCtesOver(uniTrainCtesBig))

  private def uniFertilitySqlOver(encodeCtes: String): String =
    s"WITH RECURSIVE $encodeCtes, " +
      "pd AS (SELECT lang, text, CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS BIGINT) AS nw, " +
      "CAST(coalesce(list_sum(list_transform(list_filter(string_split(text, ' '), w -> length(w) > 0), " +
      "w -> len(string_split(wm.m[w][1], ' ')))), 0) AS BIGINT) AS nu " +
      "FROM documents CROSS JOIN wm) " +
      "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(nw) AS BIGINT) AS n_words, " +
      "CAST(sum(nu) AS BIGINT) AS n_uni, " +
      "CASE WHEN sum(nw) > 0 THEN CAST(sum(nu) * 1000000 // sum(nw) AS BIGINT) END AS fertility6, " +
      "CASE WHEN sum(nu) > 0 THEN CAST(sum(octet_length(encode(text))) * 1000000 // sum(nu) AS BIGINT) END AS bytes_per_token6 " +
      "FROM pd GROUP BY lang"

  private lazy val uniFertilitySql: String = uniFertilitySqlOver(uniEncodeCtes)
  private lazy val uniFertilityBigSql: String =
    uniFertilitySqlOver(uniEncodeCtesOver(uniTrainCtesBig))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_unigram_vocab" -> (unigramVocab _),
    "text_unigram_ids" -> (unigramIds _),
    "text_unigram_fertility" -> (unigramFertility _),
    "text_unigram_vocab_1k" -> (unigramVocabBig _),
    "text_unigram_ids_1k" -> (unigramIdsBig _),
    "text_unigram_fertility_1k" -> (unigramFertilityBig _))

  def oracles: Map[String, String] = Map(
    "text_unigram_vocab" -> uniVocabSql,
    "text_unigram_ids" -> uniIdsSql,
    "text_unigram_fertility" -> uniFertilitySql,
    "text_unigram_vocab_1k" -> uniVocabBigSql,
    "text_unigram_ids_1k" -> uniIdsBigSql,
    "text_unigram_fertility_1k" -> uniFertilityBigSql)
}
