package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.sources.Tables

/** Section C (part 3) of SURVEY §2: text analysis for training-data
  * pipelines, over `documents`. Every operator is a narrow per-row
  * expression pipeline — no shuffle at all — so it streams at scan speed at
  * any data size; Catalyst fuses the whole thing into one codegen stage over
  * the parquet scan.
  */
object TextOps {

  /** Marker stopword sets per language, priority-ordered for deterministic
    * argmax ties. Shared verbatim by the SQL oracle. */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"))

  val AllStopwords: Seq[String] = Markers.flatMap(_._2).distinct

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  private def markerCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(x => x: Any): _*)))

  /** n-gram-marker language ID: argmax of per-language stopword hits,
    * ties broken by Markers order, zero hits → "und".
    *
    * REGISTRY-SERVED (r16): the prediction relation is a pure function
    * of the corpus, but it gates the ENTIRE curation family (curate /
    * curate_model / curate_semantic / curate_aligned / curate_neardup,
    * the funnel flag build, the build capstones) — each invocation was
    * one full corpus-text scan. Scored once per corpus state (the
    * pplScores discipline on the gate's input side), every consumer
    * reads a (doc_id, pred_lang) artifact scan. Strings/longs only:
    * bit-identical round-trip. */
  def langid(s: SparkSession, dir: String): DataFrame =
    AnnModels.langidScores(s, dir)

  private[graft] def langidOf(d: DataFrame): DataFrame = {
    val toks = wsTokens(col("text"))
    val scores = Markers.map { case (lang, words) => lang -> markerCount(toks, words) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // First marker set (in Markers order) that attains the max wins the tie —
    // mirrored exactly by the CASE WHEN chain in the oracle.
    val pred = scores.foldLeft(Option.empty[Column]) {
      case (None, (lang, sc)) => Some(when(sc === best && sc > 0, lit(lang)))
      case (Some(c), (lang, sc)) => Some(c.when(sc === best && sc > 0, lit(lang)))
    }.get.otherwise(lit("und"))
    d.select(col("doc_id"), pred.as("pred_lang"))
  }

  /** Language-ID audit: confusion matrix of predicted vs labeled language
    * plus per-cell share of the label's documents — the accuracy readout a
    * pipeline inspects before trusting the classifier gate. Reuses the
    * exact `langid` prediction column; one aggregation over its output. */
  def langidConfusion(s: SparkSession, dir: String): DataFrame = {
    val labeled = docs(s, dir).select(col("doc_id"), col("lang"))
    // Window over the AGGREGATED confusion cells (<= |langs|^2 rows), not
    // raw documents — a per-label share needs its label total.
    val byLabel = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    langid(s, dir).join(labeled, Seq("doc_id"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("label_share",
        floor(col("n_docs").cast("double") / sum(col("n_docs")).over(byLabel) * 1e6 + 0.5) / 1e6)
  }

  /** Hashed char-bigram feature dimension of the learned language model. */
  val LangidBuckets = 32

  /** Per-doc hashed char-bigram bucket stream: bucket(i) =
    * (ascii(c_i)*31 + ascii(c_{i+1})) mod [[LangidBuckets]] — integer-only,
    * replayed verbatim by the oracle. Guarded for len<2 (Spark's
    * sequence(1,0) DESCENDS where DuckDB's generate_series is empty). */
  // kept as the declarative REFERENCE formulation the native expression is
  // spec-asserted against (no query-path caller — the HOF chain runs
  // interpreted and costs ~21 s at sf0.1 where the expression costs ~0.3 s)
  private[graft] def langidBigrams(text: Column): Column = {
    val chars = split(text, "")
    val raw = transform(sequence(lit(1), length(text) - 1),
      i => (ascii(element_at(chars, i)) * 31 + ascii(element_at(chars, i + 1))) % LangidBuckets)
    when(length(text) >= 2, raw).otherwise(array().cast("array<int>"))
  }

  /** LEARNED language ID — the fastText-shaped companion to the marker
    * heuristic [[langid]]: a Rocchio (nearest-centroid) classifier over
    * hashed char-bigram counts, TRAINED IN-ENGINE on the even-doc_id half
    * of the corpus and scored on all of it.
    *
    * Training (the small side): per train doc, per-bucket bigram counts
    * explode to at most [[LangidBuckets]] rows/doc; frequencies quantize to
    * the 1e6 fixed-point grid with INTEGER division; the per-language
    * centroid is the fixed-point mean (again integer div by the language's
    * train-doc count) — every step exact, so centroids are bit-identical in
    * any engine.
    *
    * Scoring (the 100 TB side): centroids are model-sized (|langs| ×
    * [[LangidBuckets]] longs), collected once and compiled into literal
    * arrays — the score is an integer dot product `Σ_b cnt_b · w_{l,b}`
    * inside ONE shuffle-free codegen pass over the scan (the bpeIds /
    * broadcast-LUT shape; raw counts suffice because the doc-length
    * normalizer scales every language's score equally, leaving the argmax
    * unchanged). Argmax ties break to the lexically smallest language;
    * bigram-less docs predict 'und'. */
  def langidModel(s: SparkSession, dir: String): DataFrame =
    // gated path: centroids come from the train-once model registry (the
    // IVF/PQ/bigram-LM deployment shape) — bit-identical to inline training
    // because every training step is integer-exact and parquet round-trips
    // longs exactly (AnnModelsSpec asserts parity and the single pass)
    scoreLangidWith(docs(s, dir), AnnModels.langidCentroids(s, dir).collect())

  private[graft] def langidModelOf(d: DataFrame): DataFrame =
    scoreLangidWith(d, trainLangidCentroids(d).collect())

  /** Confusion audit of the LEARNED model — the accuracy readout
    * [[langidConfusion]] gives the marker heuristic, over the trained
    * Rocchio predictions (registry-served): per (label, prediction) cell,
    * doc count and share of the label's documents. The window runs over
    * the AGGREGATED cells (≤ |langs|² rows), never raw documents. */
  def langidModelConfusion(s: SparkSession, dir: String): DataFrame = {
    val byLabel = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    langidModel(s, dir)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("label_share",
        floor(col("n_docs").cast("double") / sum(col("n_docs")).over(byLabel) * 1e6 + 0.5) / 1e6)
  }

  /** The trained centroid relation (lang, b, w) — Rocchio training on the
    * even-doc_id half of `d`: per-doc fixed-point bigram frequencies,
    * per-language integer-mean centroids (see [[langidModel]]'s scaladoc
    * for the full derivation). Every step is exact integer arithmetic, so
    * the relation is bit-identical in any engine and parquet-persistable
    * without drift. */
  private[graft] def trainLangidCentroids(d: DataFrame): DataFrame = {
    val feat = d.select(col("doc_id"), col("lang"),
      graft.functions.LangidExpressions.bigramBuckets(col("text"), LangidBuckets).as("cnt"))
    val tot = aggregate(col("cnt"), lit(0L), (a, x) => a + x)
    val train = feat.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"), tot.as("tot"),
        posexplode(col("cnt")).as(Seq("b", "c")))
      .filter(col("c") > 0)
      .withColumn("f", expr("c * 1000000 DIV tot"))
    val nl = train.groupBy("lang").agg(countDistinct(col("doc_id")).as("nd"))
    train.groupBy("lang", "b").agg(sum(col("f")).as("sf"))
      .join(nl, Seq("lang"))
      .withColumn("w", expr("sf DIV nd"))
      .select(col("lang"), col("b"), col("w"))
  }

  private def scoreLangidWith(d: DataFrame,
      cent: Array[org.apache.spark.sql.Row]): DataFrame = {
    // ONE codegen'd pass per document builds the long[32] histogram —
    // the declarative 32-filter HOF chain runs interpreted and measured
    // ~21 s at sf0.1 (spec asserts the expression equals that formulation).
    val feat = d.select(col("doc_id"), col("lang"),
      graft.functions.LangidExpressions.bigramBuckets(col("text"), LangidBuckets).as("cnt"))
    val langs = cent.map(_.getString(0)).distinct.sorted.toIndexedSeq
    // No trained centroids (empty/degenerate corpus): everything is 'und' —
    // the same verdict the scorer gives a bigram-less doc.
    if (langs.isEmpty)
      return feat.select(col("doc_id"), col("lang"), lit("und").as("pred_lang"))
        .withColumn("is_match", (col("pred_lang") === col("lang")).cast("int"))
    val weights: Seq[Seq[Long]] = langs.map { l =>
      val arr = Array.fill(LangidBuckets)(0L)
      cent.filter(_.getString(0) == l).foreach(r => arr(r.getInt(1)) = r.getLong(2))
      arr.toSeq
    }
    // ONE plan node at any language count: the weight matrix rides along
    // as a referenced object (graft.functions.LangidArgmaxExpr) — the
    // per-language inlined-aggregate formulation grew the expression tree
    // linearly in |langs| and would abandon codegen on a fastText-sized
    // language set (ADVICE r8; spec-asserted equal on a 128-language model)
    feat.select(col("doc_id"), col("lang"),
        graft.functions.LangidExpressions.argmaxLang(col("cnt"), langs, weights)
          .as("pred_lang"))
      .withColumn("is_match", (col("pred_lang") === col("lang")).cast("int"))
  }

  /** Quality scoring: token stats + punctuation + stopword + repetition
    * ratios, equal-weight composite. All ratios of exact ints → bit-stable.
    * REGISTRY-SERVED (r16, the langid rationale): the heuristic score
    * relation gates the whole curation family per invocation; scored
    * once per corpus state. Round-4 doubles + exact decimals: parquet
    * round-trips bit-identically. */
  def quality(s: SparkSession, dir: String): DataFrame =
    // the artifact carries a trailing `source` column for the pack family
    // (see AnnModels.qualityScores); the gated relation is the original 7-column shape
    AnnModels.qualityScores(s, dir).drop("source")

  private[graft] def qualityOf(d: DataFrame, withSource: Boolean = false): DataFrame = {
    val toks = wsTokens(col("text"))
    val nTok = size(toks).cast("double")
    val avgLen = aggregate(transform(toks, t => length(t)), lit(0), (a, v) => a + v)
      .cast("double") / nTok
    val punct = (length(col("text")) -
      length(regexp_replace(col("text"), "[^a-z0-9 ]", ""))).cast("double") / length(col("text"))
    val stop = markerCount(toks, AllStopwords).cast("double") / nTok
    val rep = lit(1.0) - size(array_distinct(toks)).cast("double") / nTok
    // Composite score in exact DECIMAL: a double-weighted sum of rounded
    // doubles lands on .00005 half-way points where Spark and the oracle
    // round differently; decimal math sidesteps the boundary entirely.
    def d4(c: Column): Column = round(c, 4).cast("decimal(8,4)")
    val score = (d4(stop) * lit(BigDecimal("0.5")) +
      (lit(BigDecimal("1")) - d4(rep)) * lit(BigDecimal("0.3")) -
      d4(punct) * lit(BigDecimal("0.2")) + lit(BigDecimal("0.2"))).cast("double")
    val cols = Seq(
      col("doc_id"),
      size(toks).as("n_tokens"),
      round(avgLen, 4).as("avg_token_len"),
      round(punct, 4).as("punct_ratio"),
      round(stop, 4).as("stopword_ratio"),
      round(rep, 4).as("repetition_ratio"),
      score.as("quality_score"))
    d.select((if (withSource) cols :+ col("source") else cols): _*)
  }

  /** Repetition audit — the duplicate-n-gram quality signal (the
    * MassiveText/Gopher filter family, Rae et al. 2021, uses duplicate
    * 2–4-gram fractions): what fraction of a document's 3-gram instances
    * are repeats of a 3-gram already seen in the SAME document.
    * `quality`'s repetition_ratio is the unigram form; boilerplate headers,
    * templated spam and degenerate generations repeat whole phrases while
    * keeping unigram diversity, which only the n-gram form catches.
    * Shuffle-free: one codegen'd pass per document row. */
  def repetition(s: SparkSession, dir: String): DataFrame = repetitionOf(docs(s, dir))

  private[graft] def repetitionOf(d: DataFrame): DataFrame = {
    val sh = ShingleExpressions.shingles(col("text"), 3)
    d.select(
      col("doc_id"),
      size(sh).as("n_grams"),
      (size(sh) - size(array_distinct(sh))).as("n_repeated"))
      .withColumn("rep_ratio", when(col("n_grams") > 0,
        floor(col("n_repeated").cast("double") / col("n_grams") * 1e6 + 0.5) / 1e6)
        .otherwise(lit(0.0)))
  }

  /** Gopher rule constants (Rae et al. 2021, "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", Appendix A1.1) —
    * the canonical heuristic document-quality battery production corpora
    * (MassiveText, Dolma, FineWeb) gate on. Thresholds are the paper's. */
  val GopherStop: Seq[String] = Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val GopherMinWords = 50
  val GopherMaxWords = 100000
  val GopherMinStopHits = 2

  /** The Gopher quality-rule battery: every rule evaluated per document in
    * ONE shuffle-free codegen pass, each as a 0/1 flag plus the composite
    * keep — pipelines gate on `keep` but audit per-rule pass rates, so the
    * flags are first-class columns. Every threshold comparison is EXACT
    * integer arithmetic (3*totlen <= 10*n, never totlen/n <= 10.0): ratio
    * rules hold bit-identically in any engine, no rounding boundary to
    * drift on. On this corpus ([a-z ] single-line text) the symbol, alpha,
    * bullet and ellipsis rules pass trivially — they are computed
    * faithfully, not stubbed, and discriminate on any richer corpus; the
    * word-count, mean-word-length and stopword rules do the discriminating
    * here. Rules, per the paper: word count in [50, 100k]; mean word
    * length in [3, 10]; symbol-to-word ratio <= 0.1 for EACH of '#' and
    * '...' separately (the paper removes at "greater than 0.1 for either");
    * >= 80% of words contain an alphabetic char; >= 2 distinct stopword
    * hits; <= 90% of lines bullet-started (removal only at MORE than 90%);
    * <= 30% of lines ellipsis-ended. */
  def gopherRules(s: SparkSession, dir: String): DataFrame =
    // r16: served (AnnModels.gopherFlags — the langidScores/qualityScores
    // discipline): the battery is a pure per-document text function read
    // by seven consumers, each of which paid the full text scan per
    // invocation.
    AnnModels.gopherFlags(s, dir)

  private[graft] def gopherRulesOf(d: DataFrame): DataFrame = {
    val toks = wsTokens(col("text"))
    val lines = split(col("text"), "\n", -1)
    def b(c: Column): Column = c.cast("int")
    val noHash = call_function("replace", col("text"), lit("#"), lit(""))
    val noEll = call_function("replace", col("text"), lit("..."), lit(""))
    d
      .select(col("doc_id"),
        size(toks).cast("long").as("n"),
        aggregate(transform(toks, t => length(t)), lit(0L), (a, v) => a + v).as("totlen"),
        (length(col("text")) - length(noHash)).cast("long").as("nhash"),
        ((length(col("text")) - length(noEll)) / 3).cast("long").as("nell"),
        size(filter(toks, t => t.rlike("[a-z]"))).cast("long").as("nalpha"),
        size(array_intersect(array_distinct(toks),
          array(GopherStop.map(lit): _*))).as("nstop"),
        size(lines).cast("long").as("nlines"),
        size(filter(lines, l => l.startsWith("- ") || l.startsWith("* ")))
          .cast("long").as("nbullet"),
        size(filter(lines, l => l.endsWith("..."))).cast("long").as("nelline"))
      .select(col("doc_id"),
        col("n").cast("int").as("n_words"),
        (floor(col("totlen").cast("double") / col("n") * 1e4 + 0.5) / 1e4).as("mean_word_len"),
        col("nstop").cast("int").as("n_stop_hits"),
        b(col("n") >= GopherMinWords && col("n") <= GopherMaxWords).as("r_word_count"),
        b(lit(3) * col("n") <= col("totlen") && col("totlen") <= lit(10) * col("n")).as("r_mean_len"),
        b(lit(10) * col("nhash") <= col("n") && lit(10) * col("nell") <= col("n")).as("r_symbol"),
        b(lit(5) * col("nalpha") >= lit(4) * col("n")).as("r_alpha"),
        b(col("nstop") >= GopherMinStopHits).as("r_stop"),
        b(lit(10) * col("nbullet") <= lit(9) * col("nlines")).as("r_bullet"),
        b(lit(10) * col("nelline") <= lit(3) * col("nlines")).as("r_ellipsis"))
      .withColumn("keep", b(GopherFlagNames.map(col(_) === 1).reduce(_ && _)))
  }

  /** The seven Gopher rule-flag columns, in rule order — shared by the
    * keep conjunction and the trained gate's seed labels. */
  private[graft] val GopherFlagNames = Seq("r_word_count", "r_mean_len",
    "r_symbol", "r_alpha", "r_stop", "r_bullet", "r_ellipsis")

  /** PII patterns shared verbatim with the SQL oracle — RE2 ∩ Java syntax
    * only (char classes, bounded repeats, \b), so both engines compile them
    * identically. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "n_email" -> "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}",
    // IPv4 precedes phone: the masking fold applies patterns in THIS order,
    // and a dotted quad must scrub as <IP> before the 3-3-4 phone pattern
    // can consume a dotted digit run that overlaps it.
    "n_ipv4" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "n_phone" -> "\\d{3}[-. ]\\d{3}[-. ]\\d{4}",
    "n_id" -> "\\b\\d{6,}\\b")

  /** PII audit (the scrub gate every training pipeline runs before release —
    * the C4/Dolma email/phone/IP filter family): per-document match counts
    * for email, phone, IPv4 and long-digit-ID patterns plus a has_pii flag.
    * Shuffle-free single codegen pass; counts (not just flags) so the audit
    * doubles as the redaction workload estimate. The shipped corpus is
    * digit-free, so the gated run proves hash parity at zero counts; the
    * detection behavior itself is spec-proven on a synthetic PII corpus. */
  def pii(s: SparkSession, dir: String): DataFrame = {
    val counts = PiiPatterns.map { case (name, pat) =>
      size(regexp_extract_all(col("text"), lit(pat), lit(0))).as(name)
    }
    val total = PiiPatterns.map { case (name, _) => col(name) }.reduce(_ + _)
    docs(s, dir).select(col("doc_id") +: counts: _*)
      .withColumn("pii_total", total)
      .withColumn("has_pii", when(col("pii_total") > 0, 1).otherwise(0))
  }

  /** Mask token per PII pattern, keyed by the pattern's count column. */
  val PiiMasks: Seq[(String, String)] = Seq(
    "n_email" -> "<EMAIL>",
    "n_ipv4" -> "<IP>",
    "n_phone" -> "<PHONE>",
    "n_id" -> "<ID>")

  /** PII redaction — the scrub `pii` audits for: every pattern match is
    * replaced by its typed mask token, applied in PiiPatterns order (fixed
    * order = deterministic output; masks are digit-free so later patterns
    * can never re-match inside an already-masked span). Same shuffle-free
    * codegen shape as the audit; on the digit-free shipped corpus the gate
    * proves byte-identical passthrough, the synthetic-corpus spec pins the
    * masking itself. */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val masks = PiiMasks.toMap
    val redacted = PiiPatterns.foldLeft(col("text")) { case (c, (name, pat)) =>
      regexp_replace(c, lit(pat), lit(masks(name)))
    }
    docs(s, dir).select(
      col("doc_id"),
      redacted.as("text_redacted"),
      (redacted =!= col("text")).cast("int").as("was_redacted"))
  }

  /** BPE merge table, rank-ordered (Sennrich et al. 2016 construction): a
    * rule's operands exist before it fires — either raw characters or the
    * product of an EARLIER rule — which is exactly the invariant real
    * trained merge lists satisfy. Under that invariant, applying the rules
    * once each IN RANK ORDER, greedily left-to-right within a word, is
    * equivalent to the lowest-rank-first priority-queue encoder (a later
    * rule's product can only ever participate in later rules), so a
    * single static fold replays BPE exactly. A deployment swaps this
    * constant for its trained table; nothing else changes. */
  val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "i" -> "n", "a" -> "n", "e" -> "r", "o" -> "n",
    "r" -> "e", "a" -> "t", "e" -> "n", "o" -> "r", "s" -> "t",
    "l" -> "e", "th" -> "e", "an" -> "d", "in" -> "g", "er" -> "s",
    "a" -> "b")

  /** Symbol delimiters for the fold's string representation — any two
    * characters outside the corpus alphabet work ('|'/';' — text is [a-z ]
    * only; a deployment with richer text picks unused control chars).
    * BOTH boundaries of each symbol are marked ("|sym;"): a leading-only
    * separator lets a pattern match a symbol that merely STARTS with the
    * second operand ("|th|e" inside "|th|er"), and a trailing-only one
    * matches a symbol that ENDS with the first; wrapping rules out both,
    * and because a match never consumes the NEXT symbol's delimiters,
    * chained pairs (a b a b) all merge in one left-to-right pass. */
  val BpeOpen = "|"
  val BpeClose = ";"

  /** Every char-seeding regex in the BPE family runs in DOTALL mode
    * ((?s)): plain `.` skips newlines in BOTH Java and RE2 regex, so a
    * token containing '\n' (bulleted/multi-line documents) would seed
    * with the newline UNWRAPPED while the native coder — the production
    * path, which iterates raw chars — tokenizes it like any other
    * character. Caught by the round-9 perturbed-corpus parity sweep; the
    * native semantics (every char is a symbol) is the contract. */

  /** BPE symbol count of one word, as a codegen'd builtin composition —
    * no UDF, no custom expression: the word seeds as "|c;|h;|a;|r;", and
    * each merge (a, b) is ONE string `replace("|a;|b;" -> "|ab;")` —
    * built-in replace substitutes non-overlapping matches left-to-right,
    * which IS BPE's within-rank greedy scan. Symbols = close-delimiter
    * count. */
  private def bpeSymbolCount(word: Column): Column = {
    val seeded = regexp_replace(word, "(?s)(.)", s"\\$BpeOpen$$1$BpeClose")
    val merged = BpeMerges.foldLeft(seeded) { case (c, (a, b)) =>
      call_function("replace", c,
        lit(s"$BpeOpen$a$BpeClose$BpeOpen$b$BpeClose"), lit(s"$BpeOpen$a$b$BpeClose"))
    }
    (length(merged) -
      length(call_function("replace", merged, lit(BpeClose), lit("")))).cast("long")
  }

  /** Per-document BPE token count via the builtin replace-chain fold: sum
    * of per-word symbol counts. Exact, but the expression tree grows one
    * nested call per merge rule — it stops planning around O(100) rules, so
    * this is the REFERENCE formulation the native expression is
    * spec-asserted against (BpeSpec), not the production path. */
  def bpeCountFold(text: Column): Column =
    aggregate(transform(wsTokens(text), w => bpeSymbolCount(w)), lit(0L), (a, v) => a + v)

  /** Per-document BPE token count — the production path: ONE native
    * Catalyst expression (graft.functions.BpeCountExpr) holding the whole
    * merge table as a rank map, so a real ~50k-rule trained tokenizer plans
    * as a single node instead of a 50k-deep replace chain. Same greedy
    * rank-ordered semantics as the fold (spec-asserted equal on [[BpeMerges]]
    * and on a 1k-rule synthetic table the fold cannot plan); shuffle-free
    * whole-stage-codegen pass either way — this is the real-token-budget
    * expression pack/shard parameterize on (Pipeline.packBpe). */
  def bpeCount(text: Column): Column =
    BpeExpressions.bpeCount(text, BpeMerges)

  /** SQL mirror of [[bpeCount]] over a text column expression — the same
    * merge table unrolled into the same replace chain, so token counts are
    * oracle-replayable bit for bit. */
  /** The fold's merged boundary-wrapped symbol string of one word `w` —
    * shared by the count and encode oracles. */
  private def bpeMergedSql: String = {
    val seeded = s"regexp_replace(w, '(?s)(.)', '$BpeOpen\\1$BpeClose', 'g')"
    BpeMerges.foldLeft(seeded) { case (c, (a, b)) =>
      s"replace($c, '$BpeOpen$a$BpeClose$BpeOpen$b$BpeClose', '$BpeOpen$a$b$BpeClose')"
    }
  }

  def bpeCountSql(textCol: String): String =
    s"CAST(list_sum(list_transform(string_split($textCol, ' '), " +
      s"w -> length($bpeMergedSql) - length(replace($bpeMergedSql, '$BpeClose', '')))) AS BIGINT)"

  /** SQL mirror of [[bpeTrain]]: the k-iteration training loop UNROLLED
    * into CTE chains (vocab_i → pair-counts_i → argmax_i → vocab_{i+1}),
    * each step the same count/argmax/replace the Spark loop runs. DuckDB's
    * generate_series(1, 0) is empty, so single-symbol words contribute no
    * pairs without an explicit guard; the 1-row argmax CTE cross-joins
    * into the next vocab, and an exhausted pair space (empty argmax)
    * empties every later CTE — exactly the Spark loop's early break. */
  // lazy: references BpeTrainMerges, declared further down the object
  private lazy val bpeTrainCtes: String = {
    val seed = "v0 AS (SELECT count(*) AS f, " +
      s"regexp_replace(w, '(?s)(.)', '$BpeOpen\\1$BpeClose', 'g') AS s " +
      "FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w)"
    val steps = (1 to BpeTrainMerges).map { i =>
      s"sy$i AS (SELECT f, regexp_extract_all(s, '\\|([^;]*);', 1) AS syms FROM v${i - 1}), " +
        s"pe$i AS (SELECT unnest(list_transform(generate_series(1, len(syms) - 1), " +
        s"j -> {'a': syms[j], 'b': syms[j + 1], 'f': f})) AS pr FROM sy$i), " +
        s"pc$i AS (SELECT pr.a AS a, pr.b AS b, CAST(sum(pr.f) AS BIGINT) AS cnt FROM pe$i GROUP BY 1, 2), " +
        s"b$i AS (SELECT a, b, cnt FROM pc$i ORDER BY cnt DESC, a ASC, b ASC LIMIT 1), " +
        s"v$i AS (SELECT f, replace(s, '$BpeOpen' || a || '$BpeClose$BpeOpen' || b || '$BpeClose', " +
        s"'$BpeOpen' || a || b || '$BpeClose') AS s FROM v${i - 1} CROSS JOIN b$i)"
    }
    s"$seed, ${steps.mkString(", ")}"
  }

  private lazy val bpeTrainSql: String = {
    val out = (1 to BpeTrainMerges).map { i =>
      s"SELECT CAST($i AS INT) AS rank, a AS lhs, b AS rhs, cnt AS pair_count FROM b$i"
    }.mkString(" UNION ALL ")
    s"WITH $bpeTrainCtes $out"
  }

  /** SQL mirror of [[bpeTrainedIds]] — the FULL trained-tokenizer chain
    * replayed from the raw corpus: the training CTE chain (the same
    * v/b CTEs as `text_bpe_train`), then a parallel word-keyed chain
    * u0..uk applying each learned rule b_i to every distinct word (LEFT
    * JOIN ON TRUE, so an exhausted pair space leaves words untouched
    * instead of emptying the relation), trained-vocab ids (corpus chars
    * ranked + b_i products at nc+rank-1), and the per-document id stream
    * assembled through map lookups — end-to-end train→encode parity with
    * zero shared constants. */
  /** Training replay + the word-keyed merge-application chain, ending in
    * `wm` (a single-row map word → fully-merged boundary-wrapped symbol
    * string) — the shared backbone of every trained-tokenizer oracle
    * (`text_bpe_trained_ids`, `pipeline_pack_trained`). */
  private[operators] lazy val bpeTrainedWordCtes: String = {
    val k = BpeTrainMerges
    val seed = s"u0 AS (SELECT w, regexp_replace(w, '(?s)(.)', '$BpeOpen\\1$BpeClose', 'g') AS s " +
      "FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents) WHERE length(w) > 0)"
    val steps = (1 to k).map { i =>
      s"u$i AS (SELECT w, CASE WHEN mb.a IS NULL THEN s ELSE " +
        s"replace(s, '$BpeOpen' || mb.a || '$BpeClose$BpeOpen' || mb.b || '$BpeClose', " +
        s"'$BpeOpen' || mb.a || mb.b || '$BpeClose') END AS s FROM u${i - 1} LEFT JOIN b$i mb ON TRUE)"
    }
    s"$bpeTrainCtes, $seed, ${steps.mkString(", ")}, " +
      s"wm AS (SELECT map(list(w), list(s)) AS m FROM u$k)"
  }

  /** The fully-merged symbol string of SQL word expression `w` via the wm
    * map, rendered as a space-separated token list string. */
  private[operators] def bpeTrainedTokensSql(w: String): String =
    s"trim(replace(replace(wm.m[$w][1], '$BpeOpen', ''), '$BpeClose', ' '))"

  private lazy val bpeTrainedIdsSql: String = {
    val k = BpeTrainMerges
    val mt = (1 to k).map(i => s"SELECT $i AS rank, a || b AS token FROM b$i")
      .mkString(" UNION ALL ")
    val vocab =
      "c AS (SELECT DISTINCT unnest(list_transform(generate_series(1, length(ns)), " +
        "i -> substr(ns, i, 1))) AS token FROM (SELECT replace(text, ' ', '') AS ns FROM documents)), " +
        "cr AS (SELECT CAST(row_number() OVER (ORDER BY token) - 1 AS INT) AS token_id, token FROM c), " +
        "nc AS (SELECT count(*) AS n FROM c), " +
        s"mt AS ($mt), " +
        "prod AS (SELECT token, min(rank) AS rank FROM mt GROUP BY token), " +
        "pr AS (SELECT CAST(n + p.rank - 1 AS INT) AS token_id, p.token FROM prod p " +
        "CROSS JOIN nc WHERE p.token NOT IN (SELECT token FROM c)), " +
        "vv AS (SELECT token, token_id FROM cr UNION ALL SELECT token, token_id FROM pr)"
    val enc =
      "em AS (SELECT map(list(token), list(token_id)) AS m FROM vv), " +
        "e AS (SELECT doc_id, array_to_string(list_transform(" +
        "list_filter(string_split(text, ' '), w -> length(w) > 0), " +
        s"w -> array_to_string(list_transform(string_split(${bpeTrainedTokensSql("w")}, ' '), " +
        "t -> CAST(em.m[t][1] AS VARCHAR)), ' ')), ' ') AS token_ids " +
        "FROM documents CROSS JOIN wm CROSS JOIN em)"
    s"WITH $bpeTrainedWordCtes, $vocab, $enc " +
      "SELECT doc_id, token_ids, CASE WHEN token_ids = '' THEN 0 " +
      "ELSE CAST(len(string_split(token_ids, ' ')) AS INT) END AS n_tokens FROM e"
  }

  /** SQL replay of [[bpeTrainBatchedOn]] at ANY (k, batch) — ONE recursive
    * CTE instead of per-merge unrolling, which is what makes a
    * production-count trained tokenizer oracle-checkable. The working
    * table carries the word vocab ('v' rows) and the accumulated merge
    * table ('m' rows); each iteration recomputes pair counts from the
    * vocab (the aggregate runs over the PREVIOUS iteration's rows — the
    * recursive working set), ranks the top `4*batch` page, accepts every
    * candidate disjoint from all higher-ranked candidates (the trainer's
    * conservative rule as a NOT-EXISTS self-join), caps acceptance at
    * batch and at k total, and applies the accepted rules to every vocab
    * string through one `list_reduce` replace fold (rules are mutually
    * disjoint, so fold order is immaterial — but rank order is used, same
    * as the Scala side). Recursion stops when the pair space is exhausted
    * or k merges exist. Ends in `mt` (rank, lhs, rhs, cnt). */
  private[operators] def bpeTrainBatchedCtes(k: Int, batch: Int): String = {
    val o = BpeOpen; val c = BpeClose
    val lhsOf = "split_part(m, chr(1), 1)"
    val rhsOf = "split_part(m, chr(1), 2)"
    s"st(kind, w, f, s, rank, lhs, rhs, cnt) AS ( " +
      s"SELECT 'v', w, CAST(count(*) AS BIGINT), " +
      s"regexp_replace(w, '(?s)(.)', '$o\\1$c', 'g'), " +
      "NULL::INT, NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT " +
      "FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w " +
      "UNION ALL " +
      "(WITH pc AS (SELECT pr.a AS a, pr.b AS b, CAST(sum(pr.f) AS BIGINT) AS cnt FROM (" +
      "SELECT unnest(list_transform(generate_series(1, len(syms) - 1), " +
      "j -> {'a': syms[j], 'b': syms[j + 1], 'f': f})) AS pr " +
      s"FROM (SELECT f, regexp_extract_all(s, '\\|([^;]*);', 1) AS syms FROM st WHERE kind = 'v')" +
      ") GROUP BY 1, 2), " +
      "page AS (SELECT a, b, cnt, row_number() OVER (ORDER BY cnt DESC, a ASC, b ASC) AS rn " +
      s"FROM pc ORDER BY cnt DESC, a ASC, b ASC LIMIT ${4 * batch}), " +
      "nm AS (SELECT count(*) AS done FROM st WHERE kind = 'm'), " +
      "acc AS (SELECT p.a, p.b, p.cnt, p.rn FROM page p " +
      "WHERE NOT EXISTS (SELECT 1 FROM page q WHERE q.rn < p.rn AND " +
      "(q.a IN (p.a, p.b) OR q.b IN (p.a, p.b) OR (q.a || q.b) IN (p.a, p.b))) " +
      s"QUALIFY row_number() OVER (ORDER BY rn) <= $batch " +
      s"AND row_number() OVER (ORDER BY rn) + (SELECT done FROM nm) <= $k), " +
      "al AS (SELECT coalesce(list(a || chr(1) || b ORDER BY rn), []) AS ms, " +
      "count(*) AS na FROM acc) " +
      "SELECT * FROM (" +
      "SELECT 'v', w, f, " +
      "list_reduce(list_prepend(s, (SELECT ms FROM al)), (s0, m) -> " +
      s"replace(s0, '$o' || $lhsOf || '$c$o' || $rhsOf || '$c', " +
      s"'$o' || $lhsOf || $rhsOf || '$c')), " +
      "NULL::INT, NULL::VARCHAR, NULL::VARCHAR, NULL::BIGINT FROM st WHERE kind = 'v' " +
      "UNION ALL SELECT 'm', NULL, NULL, NULL, rank, lhs, rhs, cnt FROM st WHERE kind = 'm' " +
      "UNION ALL SELECT 'm', NULL, NULL, NULL, " +
      "CAST((SELECT done FROM nm) + row_number() OVER (ORDER BY rn) AS INT), a, b, cnt FROM acc" +
      ") WHERE (SELECT na FROM al) > 0 AND (SELECT done FROM nm) < " + k + ")" +
      "), " +
      "mt AS (SELECT DISTINCT rank, lhs, rhs, cnt FROM st WHERE kind = 'm')"
  }

  private lazy val bpeTrainBigSql: String =
    s"WITH RECURSIVE ${bpeTrainBatchedCtes(BpeTrainMergesBig, BpeTrainBatch)} " +
      "SELECT rank, lhs, rhs, cnt AS pair_count FROM mt"

  /** SQL mirror of [[bpeTrainedIdsBig]] — the recursive training replay
    * feeding the SAME vocab-id and encode assembly as the k=8 oracle,
    * with the per-word merge application a `list_reduce` fold over the
    * learned rule list instead of an unrolled CTE chain. End-to-end
    * train→encode parity at production k with zero shared constants. */
  /** Recursive training replay + the list_reduce word-merge application,
    * ending in `wm` (word → fully-merged boundary-wrapped symbol string)
    * — the shared backbone of every PRODUCTION-count trained-tokenizer
    * oracle (`text_bpe_trained_ids_256`, `pipeline_pack_trained_256`);
    * the k-parametric twin of [[bpeTrainedWordCtes]]. Callers must
    * prefix WITH RECURSIVE. */
  private[operators] lazy val bpeTrainedBigWordCtes: String = {
    val o = BpeOpen; val c = BpeClose
    val lhsOf = "split_part(m, chr(1), 1)"
    val rhsOf = "split_part(m, chr(1), 2)"
    s"${bpeTrainBatchedCtes(BpeTrainMergesBig, BpeTrainBatch)}, " +
      "mtl AS (SELECT coalesce(list(lhs || chr(1) || rhs ORDER BY rank), []) AS ml FROM mt), " +
      s"u AS (SELECT w, list_reduce(list_prepend(regexp_replace(w, '(?s)(.)', '$o\\1$c', 'g'), " +
      "(SELECT ml FROM mtl)), (s0, m) -> " +
      s"replace(s0, '$o' || $lhsOf || '$c$o' || $rhsOf || '$c', " +
      s"'$o' || $lhsOf || $rhsOf || '$c')) AS s " +
      "FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents) " +
      "WHERE length(w) > 0), " +
      "wm AS (SELECT map(list(w), list(s)) AS m FROM u)"
  }

  private lazy val bpeTrainedIdsBigSql: String = {
    val vocab =
      "c AS (SELECT DISTINCT unnest(list_transform(generate_series(1, length(ns)), " +
        "i -> substr(ns, i, 1))) AS token FROM (SELECT replace(text, ' ', '') AS ns FROM documents)), " +
        "cr AS (SELECT CAST(row_number() OVER (ORDER BY token) - 1 AS INT) AS token_id, token FROM c), " +
        "nc AS (SELECT count(*) AS n FROM c), " +
        "prod AS (SELECT lhs || rhs AS token, min(rank) AS rank FROM mt GROUP BY 1), " +
        "pr AS (SELECT CAST(n + p.rank - 1 AS INT) AS token_id, p.token FROM prod p " +
        "CROSS JOIN nc WHERE p.token NOT IN (SELECT token FROM c)), " +
        "vv AS (SELECT token, token_id FROM cr UNION ALL SELECT token, token_id FROM pr)"
    val enc =
      "em AS (SELECT map(list(token), list(token_id)) AS m FROM vv), " +
        "e AS (SELECT doc_id, array_to_string(list_transform(" +
        "list_filter(string_split(text, ' '), w -> length(w) > 0), " +
        s"w -> array_to_string(list_transform(string_split(${bpeTrainedTokensSql("w")}, ' '), " +
        "t -> CAST(em.m[t][1] AS VARCHAR)), ' ')), ' ') AS token_ids " +
        "FROM documents CROSS JOIN wm CROSS JOIN em)"
    s"WITH RECURSIVE $bpeTrainedBigWordCtes, $vocab, $enc " +
      "SELECT doc_id, token_ids, CASE WHEN token_ids = '' THEN 0 " +
      "ELSE CAST(len(string_split(token_ids, ' ')) AS INT) END AS n_tokens FROM e"
  }

  /** Number of merge rules `text_bpe_train` learns. 8 keeps the unrolled
    * SQL oracle tractable; the algorithm is iteration-count-agnostic (a
    * deployment runs ~50k, each iteration VOCAB-sized, not corpus-sized). */
  val BpeTrainMerges = 8

  /** Production-count trained-tokenizer geometry: `text_bpe_train_256` /
    * `text_bpe_trained_ids_256` gate the BATCHED trainer at 256 merges,
    * 64 accepts per round (page = 4x64) — past the unrolled-CTE oracle's
    * practical ceiling; the replay is ONE recursive CTE
    * ([[bpeTrainBatchedCtes]]) whatever k is, so scaling k further is a
    * constant bump, not an oracle rewrite. */
  val BpeTrainMergesBig = 256
  val BpeTrainBatch = 64

  /** BPE merge-table TRAINING (Sennrich et al. 2016, "Neural Machine
    * Translation of Rare Words with Subword Units", learn_bpe): starting
    * from character symbols, repeatedly count adjacent-symbol pairs across
    * the corpus and merge the most frequent pair — the loop that PRODUCES
    * the rank-ordered tables [[bpeCount]] encodes with (training emits
    * rules in rank order, so its output satisfies the operands-exist-first
    * invariant the encoder relies on by construction; spec-asserted, and
    * the trained table feeds BpeExpressions.bpeCount directly).
    *
    * 100 TB shape: the corpus is touched ONCE (word-frequency aggregate);
    * every iteration then runs on the VOCAB relation (distinct words ×
    * symbol strings, millions of rows at web scale, never corpus-sized) —
    * pair counts are a vocab-sized aggregate, the argmax is a sort-limit-1
    * on the even smaller pair-count relation, and the driver sees exactly
    * ONE row per iteration (the winning pair — the same scalar-only
    * driver-interaction rule as ccLabels' convergence probe). The merge
    * apply is one builtin `replace` over the boundary-wrapped symbol
    * string ([[BpeOpen]]/[[BpeClose]] delimiters, exactly the encoder's
    * representation); `localCheckpoint` truncates the k-iteration lineage.
    * No word-end marker, matching this repo's encoder formulation.
    * Overlapping pair occurrences all count ("aaa" contributes (a,a)
    * twice), as in the reference implementation; the merge APPLY is
    * greedy left-to-right non-overlapping — both mirrored by the oracle. */
  def bpeTrain(s: SparkSession, dir: String): DataFrame =
    bpeTrainOn(docs(s, dir), BpeTrainMerges)

  /** The batched trainer at production merge count — the table
    * `AnnModels.bpeMergeTableBig` persists and the `_256` gated chain
    * serves. */
  def bpeTrainBig(s: SparkSession, dir: String): DataFrame =
    bpeTrainBatchedOn(docs(s, dir), BpeTrainMergesBig, BpeTrainBatch)._1

  private[graft] def bpeTrainOn(d: DataFrame, k: Int): DataFrame = {
    val spark = d.sparkSession
    var vocab = d
      .select(explode(wsTokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(col("f"), regexp_replace(col("w"), "(?s)(.)", s"\\$BpeOpen$$1$BpeClose").as("s"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var done = false
    var rank = 1
    while (rank <= k && !done) {
      val syms = regexp_extract_all(col("s"), lit("\\|([^;]*);"), lit(1))
      val prs = when(size(syms) > 1,
        transform(sequence(lit(1), size(syms) - 1),
          i => struct(element_at(syms, i).as("a"), element_at(syms, i + 1).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))
      val best = vocab
        .select(col("f"), explode(prs).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (a, b, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((rank, a, b, cnt))
        val prev = vocab
        vocab = vocab.select(col("f"),
          call_function("replace", col("s"),
            lit(s"$BpeOpen$a$BpeClose$BpeOpen$b$BpeClose"),
            lit(s"$BpeOpen$a$b$BpeClose")).as("s"))
          .localCheckpoint()
        // the superseded checkpoint would otherwise stay persisted for all
        // k rounds — the accumulating-blocks spill hazard Scale.main works
        // around for cross-operator runs
        prev.unpersist()
        rank += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "lhs", "rhs", "pair_count")
  }

  /** BATCHED BPE training — the path to a real ~32k-merge tokenizer:
    * [[bpeTrainOn]] costs one Spark job per merge (a 32k-vocab train would
    * be 32k sequential driver round-trips — the same class of wall-clock
    * bottleneck the replace-chain fold had before BpeCountExpr). Here each
    * ROUND recomputes pair counts once, pulls the top `4·batch` candidates
    * (driver sees a bounded candidate page, never the pair relation), and
    * greedily accepts up to `batch` of them in (count desc, lhs, rhs) order
    * subject to SYMBOL DISJOINTNESS: a candidate is taken only if neither
    * operand appears among the operands OR products of any HIGHER-RANKED
    * candidate on the page (accepted or not). Disjointness against every
    * predecessor — not just accepted ones — makes acceptance a pure
    * per-candidate predicate over the page relation (candidate i vs the
    * set of candidates j < i), which is exactly what lets the DuckDB
    * oracle replay a round as one NOT-EXISTS self-join instead of a
    * sequential accumulator; the trade is a few fewer acceptances per
    * round, never a different accepted pair's count. Merging (a,b) changes
    * only counts of pairs that mention a, b, or the new product ab, so
    * every accepted pair's recorded count is still its exact corpus count
    * at acceptance time, accepted rules are mutually independent (apply in
    * any order to the same result), and the operands-exist-first invariant
    * holds — operands of a within-round acceptance always predate the
    * round. The first candidate of a round is always accepted, so
    * rounds <= merges and the job count is O(k/batch) + checkpoint
    * materializations, not O(k). Deterministic: the ordering and the
    * disjointness rule reference only exact counts and lexical order. The
    * result is a valid rank-ordered merge table for
    * [[graft.functions.BpeExpressions]] (spec-asserted, including
    * batch=1 ≡ sequential), and the whole loop is oracle-replayable at ANY
    * k by ONE recursive CTE ([[bpeTrainBatchedCtes]]) — the gate that
    * takes the trained tokenizer from the k=8 toy to production counts. */
  private[graft] def bpeTrainBatchedOn(d: DataFrame, k: Int,
      batch: Int): (DataFrame, Int) = {
    val spark = d.sparkSession
    var vocab = d
      .select(explode(wsTokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(col("f"), regexp_replace(col("w"), "(?s)(.)", s"\\$BpeOpen$$1$BpeClose").as("s"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var rounds = 0
    var done = false
    while (merges.size < k && !done) {
      val syms = regexp_extract_all(col("s"), lit("\\|([^;]*);"), lit(1))
      val prs = when(size(syms) > 1,
        transform(sequence(lit(1), size(syms) - 1),
          i => struct(element_at(syms, i).as("a"), element_at(syms, i + 1).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))
      val page = vocab
        .select(col("f"), explode(prs).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(batch * 4).collect()
      rounds += 1
      if (page.isEmpty) done = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val accepted = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
        val cap = math.min(batch, k - merges.size)
        // `used` accumulates EVERY processed candidate's symbols (the
        // conservative rule the oracle's NOT-EXISTS self-join mirrors),
        // so acceptance depends only on page order, never on the cap.
        page.foreach { r =>
          val (a, b) = (r.getString(0), r.getString(1))
          if (accepted.size < cap && !used(a) && !used(b))
            accepted += ((a, b, r.getLong(2)))
          used += a; used += b; used += (a + b)
        }
        accepted.foreach { case (a, b, cnt) => merges += ((merges.size + 1, a, b, cnt)) }
        val prev = vocab
        vocab = vocab.select(col("f"),
          accepted.foldLeft(col("s")) { case (c, (a, b, _)) =>
            call_function("replace", c,
              lit(s"$BpeOpen$a$BpeClose$BpeOpen$b$BpeClose"),
              lit(s"$BpeOpen$a$b$BpeClose"))
          }.as("s"))
          .localCheckpoint()
        // a ~32k-merge train is ~128 rounds: without this, every round's
        // vocab checkpoint stays persisted simultaneously (the spill-storm
        // class Scale.main documents)
        prev.unpersist()
      }
    }
    import spark.implicits._
    (merges.toSeq.toDF("rank", "lhs", "rhs", "pair_count"), rounds)
  }

  /** BPE ENCODING — the materialized tokenizer output (the flat
    * space-joined symbol stream a training pipeline actually writes, not
    * just its length): one native expression pass
    * (graft.functions.BpeEncodeExpr — same coder, rank map and codegen
    * shape as the count expression), shuffle-free at any scale. The count
    * column is the count expression over the same text, so
    * n_bpe = len(tokens(bpe_text)) by construction (spec-asserted). */
  def bpeEncode(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      BpeExpressions.bpeEncode(col("text"), BpeMerges).as("bpe_text"),
      bpeCount(col("text")).as("n_bpe"))

  /** The BPE VOCABULARY under [[BpeMerges]]: every base character the
    * corpus contains plus every merge product, each with a deterministic
    * integer id — the token→id table that makes the encoder a complete
    * tokenizer (ids are what a training run consumes). Ids: characters
    * sorted ascending get 0..n-1; merge products take n + rank - 1 in
    * table order (first rank wins on duplicate products; products already
    * present as characters are skipped) — STABLE under corpus growth of
    * known characters, gap-tolerant rather than dense, so an id never
    * silently changes meaning when a rule is edited. The char side is one
    * distinct over the corpus alphabet (bounded by the charset, so the
    * global rank window orders a handful of rows); the merge side is the
    * table constant itself. */
  def bpeVocab(s: SparkSession, dir: String): DataFrame =
    AnnModels.bpeStaticVocab(s, dir) // r17 batch 3: model-sized, one file

  private[graft] def bpeVocabWith(d: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val chars = d
      .select(explode(split(regexp_replace(col("text"), " ", ""), "")).as("token"))
      .filter(length(col("token")) > 0)
      .distinct()
    // r17 (VERDICT r16 #8 family): char ids via a triangular broadcast
    // count over the alphabet-sized distinct-char relation (id = number
    // of strictly-smaller tokens — identical to the former
    // row_number(orderBy token) − 1 on a distinct set) — no unpartitioned
    // window; the relation is bounded by the charset, never the corpus.
    val charIds = chars
      .join(broadcast(chars.select(col("token").as("btok"))),
        col("btok") < col("token"), "left")
      .groupBy(col("token"))
      .agg(count(col("btok")).cast("int").as("token_id"))
      .withColumn("kind", lit("char"))
      .select(col("token_id"), col("token"), col("kind"))
    if (merges.isEmpty) return charIds
    val nc = chars.agg(count(lit(1)).as("nc"))
    val prodIds = merges.zipWithIndex
      .map { case ((a, b), i) => (i + 1, a + b) }.toDF("rank", "token")
      .groupBy(col("token")).agg(min(col("rank")).as("rank"))
      .join(chars, Seq("token"), "left_anti")
      .crossJoin(broadcast(nc))
      .select((col("nc") + col("rank") - 1).cast("int").as("token_id"),
        col("token"), lit("merge").as("kind"))
    charIds.unionAll(prodIds)
  }

  /** Documents encoded to TOKEN IDS — the tensor-ready form a training
    * run actually reads: the [[bpeEncode]] stream with each symbol mapped
    * through [[bpeVocab]], emitted as a space-joined id sequence. The
    * vocab is MODEL-sized (corpus alphabet + merge table — bounded by the
    * charset, not the corpus), so it is materialized once on the driver
    * and compiled into a literal map expression: the encode+lookup runs as
    * ONE shuffle-free codegen pass over the scan, the same
    * load-the-model-then-stream shape as the broadcast PQ lookup tables —
    * never an explode-tokens-join-regroup, which would shuffle every token
    * of a 100 TB corpus just to rebuild document order. Every token the
    * encoder can emit is a corpus character or a merge product, so the
    * lookup is total by construction (spec-asserted). */
  def bpeIds(s: SparkSession, dir: String): DataFrame =
    AnnModels.bpeStaticIdStream(s, dir) // r17 batch 3: the tokenized corpus

  private[graft] def bpeIdsWith(d: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val vocab = bpeVocabWith(d, merges).select(col("token"), col("token_id")).collect()
    val idMap = map(vocab.flatMap(r =>
      Seq(lit(r.getString(0)), lit(r.getInt(1)))).toIndexedSeq: _*)
    // Empty-document guard: an encode of "" must yield ZERO tokens (split
    // would yield [""], inflating n_tokens to 1 with a null id silently
    // dropped by array_join — the oracle's left join emits 0, so the
    // Spark side must too).
    val enc = BpeExpressions.bpeEncode(col("text"), merges)
    val toks = when(length(enc) > 0, split(enc, " "))
      .otherwise(array().cast("array<string>"))
    d.select(
      col("doc_id"),
      array_join(transform(toks, t => element_at(idMap, t).cast("string")), " ")
        .as("token_ids"),
      size(toks).as("n_tokens"))
  }

  /** The TRAINED tokenizer end-to-end — train → persist → encode with the
    * SAME table (the reference's DistributedCache train-then-ship pattern:
    * hadoop-mapreduce-examples Sort.java:170 / terasort/TeraSort.java:324
    * compute a partition table once and `addCacheFile` it to every task;
    * here the side data is the trained merge table): [[bpeTrain]]'s output
    * persists once via the model registry (AnnModels.bpeMergeTable), is
    * collected rank-ordered (model-sized — k rows), and drives the native
    * encoder + vocab + id chain exactly where the static [[BpeMerges]]
    * constant otherwise sits. Training emits rules in rank order, so the
    * operands-exist-first invariant the single-pass encoder relies on
    * holds by construction. The oracle replays the ENTIRE chain — train
    * loop, vocab ids, encode — from the raw corpus. */
  def bpeTrainedIds(s: SparkSession, dir: String): DataFrame =
    // r17: served (AnnModels.bpeTrainedIdStream) — the per-invocation
    // merge replay over every document is the tokenized-corpus relation a
    // deployment persists once per tokenizer release; strings/ints
    // round-trip bit-identically and the oracle replays the whole
    // train → encode chain from the raw corpus.
    AnnModels.bpeTrainedIdStream(s, dir)

  /** [[bpeTrainedIds]] at PRODUCTION merge count: the registry-persisted
    * 256-rule batched-trainer table drives the same native
    * encoder + vocab + id chain. The merge table is still model-sized
    * (k rows collected once), the encode is still ONE shuffle-free
    * codegen pass — only the oracle's replay had to change shape
    * (recursive CTE instead of per-rule unrolling) to follow k. */
  def bpeTrainedIdsBig(s: SparkSession, dir: String): DataFrame =
    AnnModels.bpeTrainedIdStreamBig(s, dir) // r17: served, see bpeTrainedIds

  /** Rank-ordered collect of the production-count trained merge table —
    * [[trainedMerges]]'s contract at [[BpeTrainMergesBig]]. */
  private[graft] def trainedMergesBig(s: SparkSession, dir: String): Seq[(String, String)] =
    AnnModels.bpeMergeTableBig(s, dir).orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** The registry-persisted trained merge table, collected rank-ordered —
    * the ONE accessor every trained-tokenizer consumer uses
    * ([[bpeTrainedIds]], Pipeline.packTrained), so the schema/ordering
    * contract lives in a single place. */
  private[graft] def trainedMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    AnnModels.bpeMergeTable(s, dir).orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** Detokenization — the tokenizer chain's inverse, closing the loop a
    * training pipeline needs for inspection/debugging (render a packed
    * sample back to text). [[bpeIds]]'s flat stream drops word boundaries
    * (symbols of adjacent words are indistinguishable), so decode runs on a
    * BOUNDARY-PRESERVING id layout: each word's ids comma-joined, words
    * space-joined ("12,5 7 3,3"). Encode maps word → symbol stream
    * ([[BpeExpressions.bpeEncode]]) → ids; decode inverts ids → symbols and
    * concatenation restores each word exactly (merges preserve characters),
    * words rejoined by single spaces. `exact` asserts decode∘encode =
    * whitespace-normalized source per document — verified row by row, not
    * assumed. Both directions are driver-built literal map lookups inside
    * one shuffle-free codegen pass (the [[bpeIds]] scale shape: the model
    * is alphabet+merges-sized, never corpus-sized). */
  def bpeDecode(s: SparkSession, dir: String): DataFrame =
    AnnModels.bpeDecodeAudit(s, dir) // r17 batch 3: the round-trip audit table

  private[graft] def bpeDecodeInline(s: SparkSession, dir: String): DataFrame = {
    // the vocab collect reads the served model-sized artifact — one small
    // file, not a corpus scan (the trainedMerges accessor pattern)
    val vocab = bpeVocab(s, dir).select(col("token"), col("token_id")).collect()
    val idMap = map(vocab.flatMap(r =>
      Seq(lit(r.getString(0)), lit(r.getInt(1)))).toIndexedSeq: _*)
    val tokMap = map(vocab.flatMap(r =>
      Seq(lit(r.getInt(1)), lit(r.getString(0)))).toIndexedSeq: _*)
    val words = filter(split(col("text"), " "), w => length(w) > 0)
    val wordIds = transform(words, w =>
      array_join(transform(split(BpeExpressions.bpeEncode(w, BpeMerges), " "),
        t => element_at(idMap, t).cast("string")), ","))
    val d0 = docs(s, dir).select(col("doc_id"), col("text"),
      array_join(wordIds, " ").as("ids_text"))
    val idWords = filter(split(col("ids_text"), " "), w => length(w) > 0)
    val decoded = array_join(transform(idWords, w =>
      array_join(transform(split(w, ","), i => element_at(tokMap, i.cast("int"))), "")), " ")
    val normalized = array_join(filter(split(col("text"), " "), w => length(w) > 0), " ")
    d0.select(col("doc_id"), col("ids_text"), decoded.as("text_rt"),
      (decoded === normalized).cast("int").as("exact"))
  }

  /** Token counting: whitespace tokens, BPE-ish regex token count
    * (letter runs | digit runs | single punctuation), and the REAL
    * greedy-merge BPE count over [[BpeMerges]]. */
  def tokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      size(wsTokens(col("text"))).as("n_ws"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("n_bpe"),
      bpeCount(col("text")).as("n_bpe_real"))

  /** Tokenizer FERTILITY audit — the standard tokenizer-evaluation table
    * (fertility = subword tokens per word; compression = bytes per token
    * — multilingual tokenizer papers report exactly these per language,
    * because a tokenizer that fragments one language inflates its
    * training cost and shrinks its effective context): per language,
    * document count, NON-EMPTY whitespace-word and BPE-token totals,
    * fertility and bytes-per-token in 1e6 fixed point (integer sums, one
    * guarded DIV — exact, engine-portable; NULL on an all-whitespace
    * group). Fertility >= 1.0 whenever words exist — every non-empty
    * word is at least one token. Token counts use the production native counter
    * ([[bpeCount]], one codegen'd plan node); byte totals are UTF-8
    * octets, so multibyte scripts weigh their real storage cost.
    *
    * Scale: one corpus scan, map-side-combined aggregation onto
    * |languages| rows — nothing else shuffles. */
  def bpeFertility(s: SparkSession, dir: String): DataFrame =
    bpeFertilityWith(docs(s, dir), BpeMerges)

  /** [[bpeFertility]] under the TRAINED production-count merge table
    * (r16, VERDICT r15 #4): the BUDGET-MATCHED side of the tokenizer-
    * family comparison — the static audit counts under the 8-merge toy
    * table, so pinning the 256-piece unigram family against it compared
    * budgets, not algorithms. This audit rides the registry-served
    * 256-rule table (AnnModels.bpeMergeTableBig) through the same native
    * counter expression; the oracle rolls the recursive trained-merge
    * word replay up per language. */
  def bpeFertilityBig(s: SparkSession, dir: String): DataFrame =
    bpeFertilityWith(docs(s, dir), trainedMergesBig(s, dir))

  private[graft] def bpeFertilityWith(d: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    d.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        // NON-EMPTY words only: whitespace runs make split() emit empty
        // tokens that carry zero BPE symbols — counting them would deflate
        // fertility below its >= 1.0 floor (each real word is >= 1 token)
        sum(size(filter(wsTokens(col("text")), w => length(w) > 0)).cast("long"))
          .as("n_words"),
        sum(BpeExpressions.bpeCount(col("text"), merges)).as("n_bpe"),
        sum(octet_length(col("text")).cast("long")).as("n_bytes"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_bpe"),
        // NULL ratios on an all-whitespace language group (zero words =>
        // zero tokens): ANSI mode makes an unguarded DIV a runtime crash,
        // and DuckDB's // yields NULL there — the guard keeps parity
        expr("CASE WHEN n_words > 0 THEN (n_bpe * 1000000) DIV n_words END")
          .as("fertility6"),
        expr("CASE WHEN n_bpe > 0 THEN (n_bytes * 1000000) DIV n_bpe END")
          .as("bytes_per_token6"))

  /** Document fingerprinting: content hash + min-shingle-hash (winnowing's
    * selection rule over the whole doc window). */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    val sh = ShingleExpressions.shingles(col("text"), 3)
    docs(s, dir).select(
      col("doc_id"),
      md5Hex(col("text")).as("content_md5"),
      coalesce(array_min(transform(sh, x => md5(x.cast("binary")))), md5Hex(col("text")))
        .as("shingle_fp"))
  }

  /** TF-IDF: top-3 terms per document by tf * ln((N+1)/(df+1)), ranked on
    * the rounded score (+ term tie-break) so ranking is engine-portable.
    * Integer tf/df/N keep everything exact until the single ln(). */
  def tfidf(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // Corpus size N as a 1-row aggregate cross-joined into the plan (the
    // SQL oracle's `n` CTE): the whole query stays ONE job — no separate
    // driver-side count() action scanning the table twice.
    val n = d.agg(count(lit(1)).as("n_docs"))
    val terms = d.select(col("doc_id"), explode(wsTokens(col("text"))).as("word"))
    // df rides the tf aggregate: tf's grouping keys ARE the distinct
    // (doc_id, word) pairs, so counting docs per word over tf equals the
    // old distinct()-then-count and the second corpus text scan + explode
    // disappears (r17, guide §2.3/§2.4; the n_docs branch scans zero
    // columns — parquet footer counts only). localCheckpoint because AQE
    // does NOT reuse the (doc_id, word) exchange across the two consumers
    // here (measured: the executed plan still scanned text twice) — the
    // materialized rows are the id-sized aggregate, never raw text.
    val tf = terms.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("word").asc)
    tf.join(df, Seq("word"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("word"),
        round(col("tf") * log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 6).as("tfidf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
  }

  /** Interpolated-TRIGRAM LM perplexity filter (the CCNet-style quality
    * signal, Wenzek et al. 2020 — upgraded from the pre-r12 bigram model:
    * a bigram LM cannot separate templated text whose word PAIRS are all
    * corpus-fluent but whose triples never occur, the dominant spam shape
    * a 5-gram KenLM exists to catch; the interpolated trigram is the
    * smallest order that does, spec-demonstrated): train add-one-smoothed
    * trigram/bigram/unigram counts on the corpus itself, score each
    * trigram position by the Jelinek-Mercer mixture
    *   P = λ3·(c3+1)/(c2(prefix)+V) + λ2·(c2(suffix)+1)/(c1(mid)+V)
    *       + λ1·(c1(last)+1)/(N+V)
    * with fixed binary-exact weights λ = (1/2, 3/8, 1/8), and rank each
    * document by its average negative log-likelihood. High avg_nll =
    * surprising under the corpus distribution = low quality.
    *
    * Float discipline: counts are exact integers; each order's
    * probability is ONE double division of exactly-representable longs,
    * the λ weights are exact binary fractions, the mixture sums
    * left-to-right in a fixed order, and the single ln() rounds once to 6
    * places then sums as DECIMAL — order-independent, engine-portable.
    * Unseen grams coalesce to count 0 (standard add-one smoothing), so
    * ONE scorer serves both the self-scored corpus and open-vocabulary
    * ingest batches. Docs with < 3 tokens have no trigrams and are
    * excluded by construction.
    *
    * Scale: the model is three aggregates over exploded gram streams
    * (shuffles on gram keys — the standard LM-count shape); scoring is
    * five hash joins of the per-doc trigram stream against the count
    * relations (gram-key shuffles, token-bounded) with the (V, N) scalars
    * broadcast. Nothing is driver-side. */
  /** Gated path: the whole scored relation is REGISTRY-SERVED (r12 —
    * CCNet's actual deployment persists exactly this: the LM scores the
    * corpus once and the head/middle/tail consumers read the scores).
    * avg_nll is a 6-decimal-grid double and the counts are longs, so the
    * parquet round-trip is bit-identical. */
  def perplexity(s: SparkSession, dir: String): DataFrame =
    AnnModels.pplScores(s, dir)

  /** The full scoring pass against the persisted LM trio — what
    * AnnModels.pplScores runs ONCE per corpus state. */
  private[graft] def perplexityInline(s: SparkSession, dir: String): DataFrame = {
    val Seq(c3, c2, u) = AnnModels.trigramLm(s, dir)
    perplexityScore(docs(s, dir), c3, c2, u)
  }

  private[graft] def perplexityOf(d: DataFrame): DataFrame = {
    val (c3, c2, u) = trainNgramLmOf(d)
    perplexityScore(d, c3, c2, u)
  }

  /** Per-doc TRIGRAM multiplicities plus the component keys each
    * interpolation order joins on (prefix bigram, suffix bigram, middle
    * and last word — recovered by splitting the joined gram: tokens are
    * `split(text, ' ')` pieces, so they never contain a space and the
    * round-trip is exact, empty tokens included). One row per distinct
    * (doc, trigram): the scoring joins touch multiplicities, not
    * occurrences, and occ·DECIMAL weighting keeps the per-doc total
    * identical to summing per occurrence (the bigram-era measurement:
    * ~1/3 faster than the per-occurrence formulation). */
  private def trigramOcc(d: DataFrame): DataFrame =
    d.select(col("doc_id"), explode(ShingleExpressions.shingles(col("text"), 3)).as("g3"))
      .groupBy("doc_id", "g3").agg(count(lit(1)).as("occ"))
      .withColumn("p", split(col("g3"), " "))
      .select(col("doc_id"), col("g3"), col("occ"),
        concat_ws(" ", col("p").getItem(0), col("p").getItem(1)).as("g2p"),
        concat_ws(" ", col("p").getItem(1), col("p").getItem(2)).as("g2s"),
        col("p").getItem(1).as("w2"),
        col("p").getItem(2).as("w3"))

  /** The n-gram count relations of a corpus — (trigram counts c3, bigram
    * counts c2, unigram counts u) — extracted so AnnModels can train once
    * per dataset and persist the trio. Vocabulary size V and token total
    * N are derived from `u` (count / sum — exact integers) at scoring
    * time, identically in any engine, so they need no relation of their
    * own. */
  private[graft] def trainNgramLmOf(d: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val c3 = d.select(explode(ShingleExpressions.shingles(col("text"), 3)).as("g3"))
      .groupBy("g3").agg(count(lit(1)).as("c3"))
    val c2 = d.select(explode(ShingleExpressions.shingles(col("text"), 2)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c2"))
    val u = d.select(explode(wsTokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    (c3, c2, u)
  }

  /** The 5-gram KN model's count relations — the trigram trio extended
    * with 4- and 5-gram counts. Continuation statistics (distinct
    * left-extension counts, their totals, completion-type counts) all
    * derive from these five relations' ROW SETS at scoring time, exactly
    * alike in any engine, so they need no relations of their own. */
  private[graft] def trainKn5LmOf(d: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val c5 = d.select(explode(ShingleExpressions.shingles(col("text"), 5)).as("g5"))
      .groupBy("g5").agg(count(lit(1)).as("c5"))
    val c4 = d.select(explode(ShingleExpressions.shingles(col("text"), 4)).as("g4"))
      .groupBy("g4").agg(count(lit(1)).as("c4"))
    val (c3, c2, u) = trainNgramLmOf(d)
    (c5, c4, c3, c2, u)
  }

  /** Score documents against a 5-gram INTERPOLATED KNESER-NEY LM (Kneser
    * & Ney 1995; Chen & Goodman 1999's interpolated form — the smoothing
    * CCNet's KenLM artifact actually uses) with the discount D = 1/2, an
    * exact binary fraction:
    *
    *   p5(w|h4)   = (max(c5(h4w) − D, 0) + D·N1+(h4·)·p4c) / c(h4·)
    *   pk_c(w|h)  = (max(Nc(hw) − D, 0) + D·N1+(h·)·p(k−1)c) / Nc(h·)
    *   p1c(w)     = (max(Nc(w) − D, 0) + D·U0/V) / T0    (uniform base)
    *
    * where each lower order uses CONTINUATION counts (distinct left
    * extensions in the (k+1)-gram type set), a zero context denominator
    * backs off entirely to the next order, and every count is an exact
    * integer read off the five relations' row sets. Float discipline:
    * the probability assembles bottom-up as one fixed expression tree of
    * exact integers, the 0.5 literal and correctly-rounded IEEE ops, so
    * both engines see identical bits; ONE ln() per 5-gram rounds to 6
    * places (the trigram discipline) and sums as DECIMAL. Docs with
    * fewer than 5 tokens have no 5-grams and are absent (the perplexity
    * contract).
    *
    * Scale: the (doc, 5-gram) stream shuffles once (the occ groupBy);
    * the eight model joins are gram-vocabulary-sized (broadcast at bench
    * scale; AQE demotes the widest to shuffle at an open web vocabulary,
    * the minimum possible movement). */
  private[graft] def kn5Score(d: DataFrame, c5: DataFrame, c4: DataFrame,
      c3: DataFrame, c2: DataFrame, u: DataFrame): DataFrame = {
    def suffix(g: Column, from: Int): Column =
      array_join(slice(split(g, " "), from, 5), " ")
    // derived model relations — all bounded by gram-type counts
    val g5p = c5.withColumn("p", split(col("g5"), " "))
    val rx4 = g5p.groupBy(array_join(slice(col("p"), 1, 4), " ").as("h4"))
      .agg(sum(col("c5")).as("x4"), count(lit(1)).as("u4"))
    val rc4 = g5p.groupBy(array_join(slice(col("p"), 2, 4), " ").as("k4"))
      .agg(count(lit(1)).as("cc4"))
    val rt3 = rc4.withColumn("p", split(col("k4"), " "))
      .groupBy(array_join(slice(col("p"), 1, 3), " ").as("h3"))
      .agg(sum(col("cc4")).as("t3"), count(lit(1)).as("u3"))
    val rc3 = c4.withColumn("p", split(col("g4"), " "))
      .groupBy(array_join(slice(col("p"), 2, 3), " ").as("k3"))
      .agg(count(lit(1)).as("cc3"))
    val rt2 = rc3.withColumn("p", split(col("k3"), " "))
      .groupBy(array_join(slice(col("p"), 1, 2), " ").as("h2"))
      .agg(sum(col("cc3")).as("t2"), count(lit(1)).as("u2"))
    val rc2 = c3.withColumn("p", split(col("g3"), " "))
      .groupBy(array_join(slice(col("p"), 2, 2), " ").as("k2"))
      .agg(count(lit(1)).as("cc2"))
    val rt1 = rc2.withColumn("p", split(col("k2"), " "))
      .groupBy(col("p").getItem(0).as("h1"))
      .agg(sum(col("cc2")).as("t1"), count(lit(1)).as("u1"))
    val rc1 = c2.withColumn("p", split(col("g"), " "))
      .groupBy(col("p").getItem(1).as("k1"))
      .agg(count(lit(1)).as("cc1"))
    val stats = broadcast(
      c2.agg(count(lit(1)).as("t0")).crossJoin(u.agg(count(lit(1)).as("v")))
        .crossJoin(rc1.agg(count(lit(1)).as("u0"))))
    // the (doc, 5-gram, occ) stream with every join key precomputed
    val occ5 = d.select(col("doc_id"),
        explode(ShingleExpressions.shingles(col("text"), 5)).as("g5"))
      .groupBy("doc_id", "g5").agg(count(lit(1)).as("occ"))
      .withColumn("h4", array_join(slice(split(col("g5"), " "), 1, 4), " "))
      .withColumn("k4", suffix(col("g5"), 2))
      .withColumn("h3", array_join(slice(split(col("g5"), " "), 2, 3), " "))
      .withColumn("k3", suffix(col("g5"), 3))
      .withColumn("h2", array_join(slice(split(col("g5"), " "), 3, 2), " "))
      .withColumn("k2", suffix(col("g5"), 4))
      .withColumn("h1", split(col("g5"), " ").getItem(3))
      .withColumn("k1", split(col("g5"), " ").getItem(4))
    val D = lit(0.5)
    def z(c: Column): Column = coalesce(c, lit(0L))
    val p1 = when(col("t0") > 0,
      (greatest(z(col("cc1")).cast("double") - D, lit(0.0)) +
        D * col("u0").cast("double") / col("v")) / col("t0"))
      .otherwise(lit(1.0) / col("v"))
    def lvl(cc: Column, t: Column, uu: Column, lower: Column): Column =
      when(z(t) > 0,
        (greatest(z(cc).cast("double") - D, lit(0.0)) +
          D * z(uu).cast("double") * lower) / z(t))
        .otherwise(lower)
    val p2 = lvl(col("cc2"), col("t1"), col("u1"), p1)
    val p3 = lvl(col("cc3"), col("t2"), col("u2"), p2)
    val p4 = lvl(col("cc4"), col("t3"), col("u3"), p3)
    val p5 = lvl(col("c5"), col("x4"), col("u4"), p4)
    val nll = round(-log(p5), 6)
    occ5
      .join(c5, Seq("g5"), "left")
      .join(rx4, Seq("h4"), "left")
      .join(rc4, Seq("k4"), "left")
      .join(rt3, Seq("h3"), "left")
      .join(rc3, Seq("k3"), "left")
      .join(rt2, Seq("h2"), "left")
      .join(rc2, Seq("k2"), "left")
      .join(rt1, Seq("h1"), "left")
      .join(rc1, Seq("k1"), "left")
      .crossJoin(stats)
      .groupBy("doc_id")
      .agg(sum(col("occ")).as("n_grams"),
        sum(col("occ") * nll.cast("decimal(18,6)")).as("total_nll_dec"))
      .select(col("doc_id"), col("n_grams"),
        (floor(col("total_nll_dec").cast("double") / col("n_grams") * 1e6 + 0.5) / 1e6)
          .as("avg_nll"))
  }

  /** The full KN5 chain (persisted LM relations + the eight-join scoring
    * pass) — what AnnModels.ppl5Scores runs ONCE per corpus state. */
  private[graft] def perplexityKn5Inline(s: SparkSession, dir: String): DataFrame = {
    val Seq(c5, c4, c3, c2, u) = AnnModels.kn5Lm(s, dir)
    kn5Score(docs(s, dir), c5, c4, c3, c2, u)
  }

  /** Gated 5-gram KN perplexity — registry-served scores (the pplScores
    * pattern at order 5). */
  def perplexityKn5(s: SparkSession, dir: String): DataFrame =
    AnnModels.ppl5Scores(s, dir)

  /** Score any document set against an n-gram LM (the corpus's own, or a
    * FOREIGN one — grams the LM never saw coalesce to count 0, standard
    * add-one smoothing, so the SAME scorer serves the gated self-score
    * and the ingest admission gate's open-vocabulary batches).
    * Per-trigram nll assembles each order's probability as one double
    * division, mixes with the exact-binary λ weights left-to-right, takes
    * ONE ln(), rounds once to 6 places and sums as DECIMAL. */
  private[graft] def perplexityScore(d: DataFrame, c3: DataFrame, c2: DataFrame,
      u: DataFrame): DataFrame = {
    val stats = broadcast(u.agg(count(lit(1)).as("v"),
      coalesce(sum(col("cu")), lit(0L)).as("ntok")))
    val p3 = (coalesce(col("c3"), lit(0L)) + 1).cast("double") /
      (coalesce(col("c2p"), lit(0L)) + col("v"))
    val p2 = (coalesce(col("c2s"), lit(0L)) + 1).cast("double") /
      (coalesce(col("cu2"), lit(0L)) + col("v"))
    val p1 = (coalesce(col("cu3"), lit(0L)) + 1).cast("double") /
      (col("ntok") + col("v"))
    val nll = round(-log(lit(0.5) * p3 + lit(0.375) * p2 + lit(0.125) * p1), 6)
    // Join order note (measured at sf0.1): the five LM joins all resolve
    // to broadcast hash joins over the (doc, trigram) stream — the count
    // relations are gram-vocabulary-sized, far below the stream — so the
    // stream is shuffled ONCE (the occ groupBy) and never again until
    // the per-doc rollup. A probed "join the distinct-gram vocabulary,
    // then join nll back" rewrite double-scanned the corpus (no exchange
    // reuse across the differing aggregates) and measured slower; at
    // 100 TB scale AQE demotes only the c3 join to shuffle, which is the
    // minimum possible movement for an open trigram vocabulary.
    trigramOcc(d)
      .join(c3, Seq("g3"), "left")
      .join(c2.select(col("g").as("g2p"), col("c2").as("c2p")), Seq("g2p"), "left")
      .join(c2.select(col("g").as("g2s"), col("c2").as("c2s")), Seq("g2s"), "left")
      .join(u.select(col("w").as("w2"), col("cu").as("cu2")), Seq("w2"), "left")
      .join(u.select(col("w").as("w3"), col("cu").as("cu3")), Seq("w3"), "left")
      .crossJoin(stats)
      .groupBy("doc_id")
      .agg(sum(col("occ")).as("n_grams"),
        sum(col("occ") * nll.cast("decimal(18,6)")).as("total_nll_dec"))
      // Explicit floor(x*1e6+0.5)/1e6, not round(): dividing an exact
      // 6-decimal sum by an integer lands on .5e-7 half-way points where
      // engine round() implementations disagree; floor over identical IEEE
      // doubles cannot.
      .select(col("doc_id"), col("n_grams"),
        (floor(col("total_nll_dec").cast("double") / col("n_grams") * 1e6 + 0.5) / 1e6)
          .as("avg_nll"))
  }

  /** CCNet's perplexity bucketing (Wenzek et al. 2020): per LANGUAGE,
    * documents split into head / middle / tail tertiles by LM perplexity —
    * the corpus partitioning CCNet releases and downstream pipelines sample
    * from (head = most fluent under the LM; tail = candidates for
    * discard). Languages bucket independently because perplexity scales are
    * not comparable across LMs/languages.
    *
    * Scale shape — NO per-language sort of the corpus (the prototypePrune
    * recipe): `avg_nll` is already on the 1e6 integer grid, so the two
    * tertile thresholds come from a (lang, n6) HISTOGRAM — map-side
    * combined, bounded by distinct grid values — with one window pass over
    * the histogram (never the raw docs) and a conditional-min aggregate
    * locating the smallest n6 meeting each integer quota ceil(n/3),
    * ceil(2n/3). Docs then bucket by a broadcast join against the
    * |langs|-row threshold relation. Ties AT a threshold all take the
    * lower bucket (deterministic); docs too short for bigrams have no
    * perplexity and are excluded by construction (the `perplexity`
    * contract). Quota arithmetic is pure integer — any engine replays it
    * bit for bit. */
  def perplexityBucket(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir).select(col("doc_id"), col("lang"))
    // The scored relation feeds the per-language histogram AND the final
    // bucket join. Since r12 perplexity() is a single parquet scan of the
    // served pplScores artifact, so the checkpoint no longer guards a
    // corpus re-score — it keeps the id-sized (doc_id, lang, avg_nll, n6)
    // rows hot for the two census passes instead of re-reading + re-
    // joining the artifact and documents scans twice. Cheap either way.
    val a = perplexity(s, dir).join(d, Seq("doc_id"))
      .withColumn("n6", floor(col("avg_nll") * 1e6 + 0.5).cast("long"))
      .localCheckpoint()
    val hist = a.groupBy("lang", "n6").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("n6").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("lang"))))
    val thr = cum.groupBy("lang").agg(
      min(when(col("cum") >= expr("(n + 2) DIV 3"), col("n6"))).as("t1"),
      min(when(col("cum") >= expr("(2 * n + 2) DIV 3"), col("n6"))).as("t2"))
    a.join(broadcast(thr), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("avg_nll"),
        when(col("n6") <= col("t1"), "head")
          .when(col("n6") <= col("t2"), "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  /** Hashed feature-space size for [[importanceDsir]] — the paper uses
    * 10^4 hashed n-gram buckets at web scale; 256 keeps every model
    * relation broadcastable while still separating the test corpora. */
  val DsirBuckets = 256L

  /** Realistic hashed feature width (VERDICT r11 #4) — the paper's ~10^4
    * bucket regime, gated as `text_importance_dsir_8k`. The plan is
    * width-independent: the model relation grows to 8192 rows × 16 B —
    * still trivially broadcastable — and every other step is unchanged,
    * which is exactly the point of hashing the feature space. */
  val DsirBuckets8k = 8192L

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling" — hashed bag-of-words
    * importance weights): estimate a TARGET unigram distribution p and the
    * RAW-corpus distribution q over [[DsirBuckets]] hashed word buckets,
    * weight each document by the PER-TOKEN mean log importance
    * (Σ_b occ_b · ln(p(b)/q(b))) / n_tokens (add-one smoothed; the
    * per-token mean removes the length confound a raw log-sum ranking
    * has), and keep the top importance QUARTILE — the
    * "rank by importance weight" selection variant. The target sample is
    * the corpus's own Gopher-seed documents — passing >=
    * [[QualitySeedMinFlags]] of the 7 rules, the same deterministic
    * label-free seed rule the trained quality gate uses (full 7/7
    * consensus is empty whenever one rule is globally unattainable on a
    * corpus, which would collapse the target to pure smoothing) — exactly
    * the trusted-subset shape the paper instantiates with formal text.
    *
    * Float discipline (the perplexity recipe): bucket counts are exact
    * integers; each bucket's log-ratio is ONE ln() over identically
    * computed doubles, rounded once to 6 places and summed as DECIMAL —
    * order-independent, engine-portable; the per-doc weight surfaces as
    * 1e6 fixed-point (logw6). Threshold selection is the shared
    * [[Analytics.cumulativeCensus]] order statistic — no global sort; ties
    * at the threshold are kept, so >= ceil(N/4) documents survive on ANY
    * corpus.
    *
    * Scale: two corpus scans (token stream + the fused Gopher flag scan),
    * one (doc, bucket) shuffle bounded by the token count, a 256-row model
    * relation broadcast back, and the census over the materialized
    * (doc_id, logw6) pairs (16 B/row, the calibrated-gate checkpoint
    * pattern). Nothing pairwise, nothing driver-side.
    *
    * Deployment shape: the MODEL — the 256-row log-ratio table plus the
    * calibrated keep threshold — is registry-persisted
    * (AnnModels.dsirModel, trained once per corpus state, the ingestGate
    * two-relation pattern), and the gated query SERVES it: one scoring
    * scan joins the broadcast artifact and compares to the persisted
    * bar. Training is integer/DECIMAL-exact and the decimal(18,6)
    * log-ratios parquet round-trip exactly, so artifact-served output is
    * bit-identical to the inline fit (spec) and the oracle replays the
    * whole train→weight→select chain from the raw corpus. */
  def importanceDsir(s: SparkSession, dir: String): DataFrame =
    // r17: the SCORED relation is served too (AnnModels.dsirScored) — the
    // model already persisted, but every read re-ran the corpus token
    // explode + bucket shuffle; CCNet's deployment persists exactly these
    // per-document scores. Longs/ints only: bit-identical round-trip.
    AnnModels.dsirScored(s, dir)

  /** The SERVING chain — one scoring scan against the broadcast persisted
    * model + the persisted bar; what [[AnnModels.dsirScored]] runs once
    * per corpus state (and the plan-contract pin). */
  private[graft] def importanceDsirServe(s: SparkSession, dir: String): DataFrame = {
    val Seq(lr, thr) = AnnModels.dsirModel(s, dir)
    dsirSelect(dsirScores(dsirOcc(docs(s, dir)), lr), thr)
  }

  /** [[importanceDsir]] at the paper-realistic [[DsirBuckets8k]] feature
    * width — its own registry artifact (keyed on b=8192, so the two
    * widths never shadow each other), same serving plan. */
  def importanceDsir8k(s: SparkSession, dir: String): DataFrame =
    AnnModels.dsirScored8k(s, dir) // r17: served, see importanceDsir

  private[graft] def importanceDsirServe8k(s: SparkSession, dir: String): DataFrame = {
    val Seq(lr, thr) = AnnModels.dsirModel8k(s, dir)
    dsirSelect(dsirScores(dsirOcc(docs(s, dir), DsirBuckets8k), lr), thr)
  }

  /** The inline (no-registry) form of [[importanceDsir]] — the full fit +
    * selection over an arbitrary documents relation; the registry trainer
    * and the foreign-corpus specs run exactly this chain. */
  private[graft] def importanceDsirOf(d: DataFrame,
      buckets: Long = DsirBuckets): DataFrame = {
    // one row per (doc, hashed bucket) with multiplicity — feeds the model
    // counts AND the scoring join; materialized once (id-sized rows)
    val wt = dsirWt(d, buckets).localCheckpoint()
    val s6 = dsirScores(wt.select(col("doc_id"), col("b"), col("occ")),
      dsirLr(wt, buckets)).localCheckpoint()
    dsirSelect(s6, dsirThr(s6))
  }

  /** (doc_id, b, occ): hashed-bucket token counts per document — the
    * scoring-side relation (one corpus scan, one token-bounded shuffle). */
  private[graft] def dsirOcc(d: DataFrame,
      buckets: Long = DsirBuckets): DataFrame =
    d.select(col("doc_id"), explode(wsTokens(col("text"))).as("w"))
      .select(col("doc_id"), pmod(hash52(col("w")), lit(buckets)).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("occ"))

  /** [[dsirOcc]] + the per-document target flag (Gopher-seed membership)
    * — the training-side relation. */
  private[graft] def dsirWt(d: DataFrame,
      buckets: Long = DsirBuckets): DataFrame =
    dsirOcc(d, buckets)
      .join(gopherSeedOf(d, as = "tgt"), Seq("doc_id"))

  /** The [[DsirBuckets]]-row importance model: per-bucket add-one
    * smoothed log-ratio between the target and raw distributions, over
    * the FULL bucket domain — add-one smoothing defines lr for buckets
    * the training corpus never emitted (ct = cr = 0), and the ingest
    * deployment scores batches that can contain exactly those buckets;
    * a model restricted to observed buckets would silently drop their
    * tokens from the admission score.
    * lr(b) = round(ln(p/q), 6) with p = (ct+1)/(nt+B), q = (cr+1)/(nr+B);
    * the argument is assembled double-by-double in the exact order the
    * oracle replays, so the single ln() sees identical bits. */
  private[graft] def dsirLr(wt: DataFrame,
      buckets: Long = DsirBuckets): DataFrame = {
    val bstats = wt.groupBy("b").agg(
      sum(col("occ")).as("cr"),
      sum(col("occ") * col("tgt")).as("ct"))
    val tot = bstats.agg(coalesce(sum(col("cr")), lit(0L)).as("nr"),
      coalesce(sum(col("ct")), lit(0L)).as("nt"))
    wt.sparkSession.range(buckets).select(col("id").as("b"))
      .join(bstats, Seq("b"), "left")
      .select(col("b"), coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("ct"), lit(0L)).as("ct"))
      .crossJoin(broadcast(tot))
      .select(col("b"),
        round(log(((col("ct") + 1).cast("double") * (col("nr") + lit(buckets)).cast("double")) /
          ((col("cr") + 1).cast("double") * (col("nt") + lit(buckets)).cast("double"))), 6)
          .cast("decimal(18,6)").as("lr"))
  }

  /** (doc_id, logw6): per-TOKEN mean log-ratio (sum DIV token count) in
    * 1e6 fixed point — NOT the raw sum: the sum scales with document
    * length, so ranking on it selects long documents rather than
    * target-like ones (measured on the shipped corpus: the raw-sum
    * quartile UNDER-represents the seed class, the per-token mean
    * enriches it 0.57 -> 0.63). DIV truncates toward zero in both
    * engines; sum(occ) >= 1 because split() yields >= 1 token. */
  private[graft] def dsirScores(occ: DataFrame, lr: DataFrame): DataFrame =
    occ.join(broadcast(lr), Seq("b"))
      .groupBy("doc_id")
      .agg((sum(col("occ") * col("lr")) * lit(1000000L)).cast("long").as("sumw6"),
        sum(col("occ")).as("ntok"))
      .select(col("doc_id"), expr("sumw6 DIV ntok").as("logw6"))

  /** The 1-row calibrated keep bar: the ceil(N/4)-th largest logw6,
    * selected via the shared cumulative census (no global sort). */
  private[graft] def dsirThr(s6: DataFrame): DataFrame = {
    val census = Analytics.cumulativeCensus(s6.select(col("logw6").as("v")))
    val target = broadcast(s6.agg(count(lit(1)).as("n"))
      .withColumn("keep_n", expr("(n + 3) DIV 4"))
      .withColumn("target", col("n") - col("keep_n") + 1)
      .select(col("target")))
    census.join(target,
        col("cum") >= col("target") && (col("cum") - col("cnt")) < col("target"))
      .agg(min(col("v")).as("thr"))
  }

  /** Final selection: ties at the bar are kept, so >= ceil(N/4) docs
    * survive on ANY corpus. */
  private def dsirSelect(s6: DataFrame, thr: DataFrame): DataFrame =
    s6.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("logw6"),
        when(col("logw6") >= col("thr"), 1).otherwise(0).as("dsir_keep"))

  /** Character-level entropy audit — the degenerate-text signal of the
    * Gopher/C4 filter family that token-level ratios miss: binary spew,
    * single-character runs and keyboard mashing have near-zero or
    * pathological char entropy while still tokenizing "normally". Per doc:
    * distinct-char count, the modal char's frequency share, and Shannon
    * entropy in nats, H = ln(n) - (Σ_c k_c·ln(k_c))/n over the char
    * histogram.
    *
    * Float discipline (the perplexity recipe): counts are exact integers;
    * each k·ln(k) term quantizes once to integer micro-nats
    * (floor(x·1e6+0.5)) and the per-doc sum is a LONG — order-independent —
    * so the only engine-sensitive steps are single ln() calls rounded six
    * places below the output grid. Shuffle-free: one codegen pass per row;
    * per-row cost is O(|alphabet|·n) via the filter-count form, bounded by
    * the corpus alphabet. */
  def entropy(s: SparkSession, dir: String): DataFrame = entropyOf(docs(s, dir))

  private[graft] def entropyOf(d: DataFrame): DataFrame = {
    // guarded: sequence(1, 0) DESCENDS in Spark, so an empty doc must map
    // to an empty char list explicitly (DuckDB's generate_series(1, 0) is
    // already empty)
    val chars = expr("CASE WHEN length(text) = 0 THEN CAST(array() AS ARRAY<STRING>) " +
      "ELSE transform(sequence(1, length(text)), i -> substring(text, i, 1)) END")
    def kOf(c: Column) = size(filter(col("cl"), x => x === c))
    val term6 = (c: Column) =>
      floor(kOf(c).cast("double") * log(kOf(c).cast("double")) * 1e6 + 0.5).cast("long")
    d.select(col("doc_id"), chars.as("cl"))
      .withColumn("n", size(col("cl")))
      .withColumn("dist", array_distinct(col("cl")))
      .select(
        col("doc_id"),
        col("n").as("n_chars"),
        size(col("dist")).as("n_distinct_chars"),
        when(col("n") > 0,
          floor(array_max(transform(col("dist"), c => kOf(c))).cast("double")
            / col("n") * 1e6 + 0.5) / 1e6).otherwise(lit(0.0)).as("max_char_ratio"),
        when(col("n") > 0,
          floor((log(col("n").cast("double")) -
            aggregate(transform(col("dist"), term6), lit(0L), (a, v) => a + v)
              .cast("double") / 1e6 / col("n")) * 1e6 + 0.5) / 1e6)
          .otherwise(lit(0.0)).as("entropy_nats"))
  }

  /** Deterministic text normalization — the cleaning pass every corpus
    * pipeline runs before hashing and tokenization (dedup keys computed on
    * un-normalized text silently miss case/whitespace variants): non-
    * printable-ASCII bytes become spaces, text lowercases, whitespace runs
    * collapse, ends trim. Pure codegen'd builtins in a fixed order —
    * shuffle-free, engine-exact (`[^ -~]` and `' +'` are RE2 ∩ Java, the
    * PII-pattern portability rule). The shipped corpus is already
    * normalized, so the gate proves byte-identical passthrough (the
    * text_pii pattern); behavior is spec-pinned on messy synthetic docs. */
  def normalize(s: SparkSession, dir: String): DataFrame = {
    val cleaned = trim(regexp_replace(
      lower(regexp_replace(col("text"), "[^ -~]", " ")), " +", " "))
    docs(s, dir).select(
      col("doc_id"),
      cleaned.as("text_norm"),
      (cleaned =!= col("text")).cast("int").as("was_changed"),
      length(cleaned).as("n_chars_norm"))
  }

  // --- learned quality gate ------------------------------------------------

  /** Integer-quantized coefficients of the LEARNED quality gate (the
    * model-based filter family of DCLM / FineWeb-Edu, where a small
    * classifier over pipeline features replaces the hand-tuned composite):
    * a logistic regression trained offline ships as fixed-point integers —
    * 1e4 logit units per unit feature — so scoring is pure integer
    * arithmetic, order-independent, and replayable bit for bit by any
    * engine (exp() never runs: the keep decision thresholds the LOGIT,
    * which is monotone in the probability). Coefficients are calibrated on
    * the corpus feature distributions (stopword density up, repetition and
    * bigram surprise down); a deployment swaps in its trained values. */
  val QmBias = 31500L // +3.15 — centers the corpus logit near zero
  val QmStop = 60000L // +6.0 per unit stopword ratio
  val QmRepUni = -25000L // -2.5 per unit repeated-unigram ratio
  val QmRep3 = -40000L // -4.0 per unit duplicate-3-gram ratio
  val QmPunct = -50000L // -5.0 per unit punctuation ratio
  val QmNll = -8000L // -0.8 per nat of bigram surprise
  val QmLenPerTok = 100L // +0.01 per token, capped
  val QmLenCap = 100

  /** Learned quality scoring over the EXISTING feature pipelines: the
    * heuristic `quality` ratios, `repetition`'s duplicate-3-gram ratio and
    * `perplexity`'s bigram surprise join on doc_id and feed the quantized
    * linear model. Features quantize to the 1e4 grid (exact — every input
    * is already a rounded double), the logit accumulates in 1e8 fixed
    * point as a long, and keep = logit8 >= 0. Docs too short for bigrams
    * score with a zero surprise term (left join + coalesce).
    *
    * Scale: the ratio features are one shuffle-free codegen pass; the only
    * shuffles are perplexity's LM aggregates and the doc_id feature joins
    * — at 100 TB the join keys are (doc_id, three longs), never text. */
  def qualityModel(s: SparkSession, dir: String): DataFrame =
    // gated path: the whole scored relation is REGISTRY-SERVED (r12 —
    // one LM-joined scoring pass per corpus state; five gated consumers
    // read the artifact). The trainer below is the inline chain.
    AnnModels.qualityLogits(s, dir)

  private[graft] def qualityModelOf(d: DataFrame): DataFrame =
    qualityModelWith(d, perplexityOf(d))

  private[graft] def qualityModelWith(d: DataFrame, ppl: DataFrame): DataFrame = {
    def q4(c: Column): Column = floor(c * 1e4 + 0.5).cast("long")
    // Deliberately the FEATURE-JOIN form, not one fused [[logitBaseCol]]
    // projection: the fused expression falls out of whole-stage codegen
    // (HOF-heavy) and interpreted eval gets no common-subexpression
    // elimination, so "one scan" measured 2x SLOWER end-to-end than the
    // three smaller projections (7.1-8.9 s vs 3.7 s for the calibrated
    // gate at sf0.1 — profiled, not guessed). The
    // stream transform keeps logitBaseCol where a single per-row column
    // is structurally required, with the per-doc parity spec pinning the
    // two formulations equal.
    val logit8 =
      lit(QmBias) * lit(10000L) +
        lit(QmStop) * q4(col("stopword_ratio")) +
        lit(QmRepUni) * q4(col("repetition_ratio")) +
        lit(QmPunct) * q4(col("punct_ratio")) +
        lit(QmRep3) * q4(col("rep_ratio")) +
        lit(QmNll) * coalesce(q4(col("avg_nll")), lit(0L)) +
        lit(QmLenPerTok) * least(col("n_tokens"), lit(QmLenCap)).cast("long") * lit(10000L)
    qualityOf(d)
      .select(col("doc_id"), col("n_tokens"), col("stopword_ratio"),
        col("repetition_ratio"), col("punct_ratio"))
      .join(repetitionOf(d).select(col("doc_id"), col("rep_ratio")), Seq("doc_id"))
      .join(ppl.select(col("doc_id"), col("avg_nll")), Seq("doc_id"), "left")
      .select(col("doc_id"), logit8.as("logit8"),
        // logit8 < 2^53, so the double is exact; /1e8 rounds identically
        // in any IEEE engine
        (logit8.cast("double") / 1e8).as("logit"),
        when(logit8 >= 0, 1).otherwise(0).as("model_keep"))
  }

  /** The six quality features as exact fixed-point longs (q4 ratios on
    * the 0..10000 grid, NLL in 1e4 nats, length as a 0..10000 fraction of
    * [[QmLenCap]]) — the ONE feature relation both sides of the trained
    * quality gate consume, so train-time and score-time features can
    * never drift. */
  private[graft] def qualityFeaturesOf(d: DataFrame, ppl: DataFrame): DataFrame = {
    def q4(c: Column): Column = floor(c * 1e4 + 0.5).cast("long")
    // ONE corpus scan (r14): the quality ratios and the 3-gram repetition
    // signal are all per-row expressions over `text`, so they fuse into a
    // single codegen'd projection — the previous qualityOf ⋈ repetitionOf
    // form paid a second full scan plus a corpus-sized equijoin for what
    // is row-local arithmetic (measured at ×100: the feature checkpoint
    // dominated the whole LR chain). Each feature replays the EXACT
    // rounding steps of its source relation (round-4 → q4 grid), so the
    // fused column values are bit-identical to the join form.
    val toks = wsTokens(col("text"))
    val nTok = size(toks).cast("double")
    val punct = (length(col("text")) -
      length(regexp_replace(col("text"), "[^a-z0-9 ]", ""))).cast("double") / length(col("text"))
    val stop = markerCount(toks, AllStopwords).cast("double") / nTok
    val rep = lit(1.0) - size(array_distinct(toks)).cast("double") / nTok
    val sh = ShingleExpressions.shingles(col("text"), 3)
    val rep3 = when(size(sh) > 0,
      floor((size(sh) - size(array_distinct(sh))).cast("double") / size(sh) * 1e6 + 0.5) / 1e6)
      .otherwise(lit(0.0))
    d.select(col("doc_id"),
        q4(round(stop, 4)).as("f_stop"),
        q4(round(rep, 4)).as("f_rep"),
        q4(round(punct, 4)).as("f_punct"),
        q4(rep3).as("f_rep3"),
        least(size(toks), lit(QmLenCap)).cast("long").as("len_capped"))
      .join(ppl.select(col("doc_id"), col("avg_nll")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("f_stop"), col("f_rep"), col("f_punct"),
        col("f_rep3"),
        coalesce(q4(col("avg_nll")), lit(0L)).as("f_nll"),
        expr(s"len_capped * 10000 DIV $QmLenCap").as("f_len"))
  }

  private[graft] val QualityFeatNames =
    Seq("f_stop", "f_rep", "f_punct", "f_rep3", "f_nll", "f_len")

  /** Seed-label tolerance: a document is a positive training example when
    * it passes at least this many of the 7 Gopher rules. Full 7-of-7
    * consensus makes the positive class EMPTY whenever one rule is
    * globally unattainable on a corpus (the shipped synthetic vocabulary
    * contains no Gopher stopword, so r_stop is 0 for every document) —
    * the degenerate-seed failure a corpus-tolerant margin avoids. */
  val QualitySeedMinFlags = 6

  /** TRAINED quality-gate weights — the langid Rocchio recipe
    * ([[trainLangidCentroids]]) applied to the quality features: per
    * Gopher-seed class (passes >= [[QualitySeedMinFlags]] of the 7 rules
    * = 1, else 0 — deterministic integer seed labels), the integer-mean
    * centroid of the six fixed-point features
    * over the even-doc_id training half. Every step is exact integer
    * arithmetic (sum DIV count), so the relation is bit-identical in any
    * engine and parquet-persistable without drift. Output: one wide row
    * per class — (cls, n, w_stop, w_rep, w_punct, w_rep3, w_nll, w_len).
    * This closes the last hand-fixed half of the quality model: round 9
    * calibrated the THRESHOLD to the corpus, this trains the WEIGHTS from
    * the corpus itself (the in-engine deterministic-training recipe the
    * langid centroids and bigram LM already proved). */
  private[graft] def trainQualityCentroids(s: SparkSession, dir: String): DataFrame =
    trainQualityCentroidsOf(docs(s, dir), perplexity(s, dir))

  /** THE Gopher seed class over any documents relation: 1 iff the doc
    * passes >= [[QualitySeedMinFlags]] of the 7 rules — the one seed rule
    * every trained gate (Rocchio, logistic, LR admission, DSIR target)
    * shares, stated once so the trainers can never drift apart. */
  private[graft] def gopherSeedOf(d: DataFrame, as: String = "cls"): DataFrame =
    gopherRulesOf(d).select(col("doc_id"),
      when(GopherFlagNames.map(col).reduce(_ + _) >= QualitySeedMinFlags, 1)
        .otherwise(0).as(as))

  /** SQL mirror of [[gopherSeedOf]] over a gopher-battery subquery. */
  private[operators] def gopherSeedSelSql(gopher: String, as: String = "cls"): String =
    s"SELECT doc_id, CASE WHEN ${GopherFlagNames.mkString(" + ")} >= $QualitySeedMinFlags " +
      s"THEN 1 ELSE 0 END AS $as FROM ($gopher)"

  private[graft] def trainQualityCentroidsOf(d: DataFrame, ppl: DataFrame): DataFrame = {
    val feats = qualityFeaturesOf(d, ppl)
    val labels = gopherSeedOf(d)
    feats.join(labels, Seq("doc_id"))
      .filter(col("doc_id") % 2 === 0)
      .groupBy("cls")
      .agg(count(lit(1)).as("n"),
        QualityFeatNames.map(f => sum(col(f)).as(s"s$f")): _*)
      .select(col("cls") +: col("n") +:
        QualityFeatNames.map(f => expr(s"s$f DIV n").as(f.replaceFirst("f_", "w_"))): _*)
  }

  /** The TRAINED quality gate — scoring every document against the
    * registry-persisted Rocchio centroids (AnnModels.qualityCentroids):
    * keep iff the feature vector is at least as close (squared L2) to the
    * keep centroid as to the fail centroid, i.e.
    * margin8 = 2*x.(c1-c0) - (|c1|^2 - |c0|^2) >= 0 — the equidistant
    * hyperplane as pure long arithmetic (fixed-point 1e8 scale, same as
    * logit8). The centroids are MODEL-sized (<= 2 rows) and compile into
    * literal coefficients, so scoring is one shuffle-free codegen pass; a
    * class absent from the training half scores as the zero centroid
    * (deterministic, oracle-mirrored via coalesced aggregates). */
  def qualityTrained(s: SparkSession, dir: String): DataFrame =
    // gated path: the trained gate's scored relation is REGISTRY-SERVED
    // like the learned gate's (AnnModels.trainedMargins, r12)
    AnnModels.trainedMargins(s, dir)

  /** The full trained-gate chain (features + persisted centroids) — what
    * AnnModels.trainedMargins runs ONCE per corpus state. */
  private[graft] def qualityTrainedInline(s: SparkSession, dir: String): DataFrame =
    qualityTrainedWith(
      qualityFeaturesOf(docs(s, dir), perplexity(s, dir)),
      AnnModels.qualityCentroids(s, dir).collect())

  private[graft] def qualityTrainedWith(feats: DataFrame,
      cent: Array[org.apache.spark.sql.Row]): DataFrame = {
    def vec(cls: Int): IndexedSeq[Long] =
      cent.find(_.getInt(0) == cls)
        .map(r => QualityFeatNames.indices.map(i => r.getLong(i + 2)))
        .getOrElse(QualityFeatNames.indices.map(_ => 0L))
    val (c0, c1) = (vec(0), vec(1))
    val sqDiff = c1.map(x => x * x).sum - c0.map(x => x * x).sum
    val margin = QualityFeatNames.zipWithIndex
      .map { case (f, i) => col(f) * lit(2L * (c1(i) - c0(i))) }
      .reduce(_ + _) - lit(sqDiff)
    feats.select(col("doc_id"), margin.as("margin8"),
      when(margin >= 0, 1).otherwise(0).as("trained_keep"))
  }

  /** Batch-gradient rounds for the LOGISTIC quality classifier — fixed
    * so the fit is a deterministic, oracle-unrollable program rather than
    * a convergence loop. */
  val QualityLrIters = 16

  /** Learning rate (num/den) for [[qualityLrFit]]'s update
    * w6 += (EtaNum · gradient) DIV (EtaDen · n · 1e4). Features are
    * mean-centered and clamped to the ±1 grid, so the per-coordinate
    * curvature is O(E[x²]) ≤ 1 and η = 1/2 descends without the
    * oscillation raw unscaled features produce (measured: the raw-f_nll
    * coordinate sits ~3e4 off-grid and η=2 diverges on it; centered, the
    * spectral bound is ~E[x²]·σ' ≤ 1/4 so η=8 still descends — and the
    * non-centroid-separable spec needs the extra step size to place the
    * boundary inside the corridor within K rounds). */
  val QualityLrEtaNum = 8L
  val QualityLrEtaDen = 1L

  /** Train the LOGISTIC quality classifier — fixed-K batch gradient
    * descent over the mean-centered fixed-point features against the
    * Gopher-seed labels (the production successor to the Rocchio centroid
    * gate: CCNet/DataComp/FineWeb-style curation trains a linear
    * classifier on labeled seeds; a centroid gate provably cannot
    * separate classes whose means coincide — spec-witnessed). Returns
    * (mu, w): the training-half integer feature means, and the 7 fitted
    * weights (bias +: features) on the 1e6 grid.
    *
    * Standardization, integer-exact: x_j = clamp(f_j − mu_j, ±1e4) with
    * mu_j = (Σ_train f_j) DIV n — centering removes the bias-feature
    * coupling (f_nll rides ~3e4 above the grid as a near-constant
    * offset) and the clamp bounds any single document's pull on ±1.
    *
    * Determinism discipline (the DSIR recipe, iterated): the logit
    * z = w6_b·1e4 + Σ w6_j·x_j is EXACT long arithmetic; the one
    * transcendental per (doc, round) — the sigmoid — quantizes
    * immediately to the 1e6 grid (floor(1e6/(1+exp(-z/1e10))+0.5), the
    * argument a single correctly-rounded division, so both engines' exp
    * sees identical bits); residuals, gradients and updates are exact
    * longs with truncating division. The oracle unrolls the identical K
    * rounds as CTEs (the BPE merge-loop pattern). Gradient sums are
    * bounded by n·1e10 — fine in int64 up to ~1e8 training docs; beyond
    * that the aggregate moves to DECIMAL unchanged.
    *
    * Scale: each round is ONE map-side aggregate over the (checkpointed,
    * 8-narrow-column) training half — K scans of a compact relation, no
    * shuffle beyond the 1-row aggregate; the collected state is 13 longs
    * (model-sized, the broadcast-artifact discipline). The fit is a
    * DRIVER LOOP — K rounds of collect-update-resubmit — and the oracle
    * unrolls exactly this arithmetic as CTEs. A single-action form (the
    * state row cross-joined into each round's aggregate) measured 17.1 s
    * against the loop's 9.4 s at ×100 (500k docs): the driver round-trip
    * is 1 row per round, while the in-plan state costs a
    * BroadcastNestedLoopJoin per training row per round. */
  private[graft] def qualityLrFit(feats: DataFrame, labels: DataFrame,
      iters: Int = QualityLrIters, etaNum: Long = QualityLrEtaNum,
      etaDen: Long = QualityLrEtaDen): (Array[Long], Array[Long]) = {
    val half = feats.join(labels, Seq("doc_id"))
      .filter(col("doc_id") % 2 === 0)
      .localCheckpoint()
    val muRow = half.agg(count(lit(1)).as("n"),
      QualityFeatNames.map(f => sum(col(f)).as(s"m$f")): _*).collect().head
    val n0 = muRow.getLong(0)
    val mu = QualityFeatNames.indices
      .map(i => if (n0 > 0) muRow.getLong(i + 1) / n0 else 0L).toArray
    val tr = half.select(col("cls") +:
      QualityFeatNames.zipWithIndex.map { case (f, i) =>
        greatest(least(col(f) - lit(mu(i)), lit(10000L)), lit(-10000L)).as(f)
      }: _*)
    val w = Array.fill(QualityFeatNames.size + 1)(0L)
    for (_ <- 1 to iters) {
      val z = QualityFeatNames.zipWithIndex
        .map { case (f, i) => col(f) * lit(w(i + 1)) }
        .reduce(_ + _) + lit(w(0) * 10000L)
      val p6 = floor(lit(1000000.0) /
        (lit(1.0) + exp(-(z.cast("double") / lit(1e10)))) + lit(0.5)).cast("long")
      val resid = col("cls") * lit(1000000L) - p6
      val gcols = sum(resid * lit(10000L)).as("g0") +:
        QualityFeatNames.zipWithIndex.map { case (f, i) =>
          sum(resid * col(f)).as(s"g${i + 1}") }
      val row = tr.agg(count(lit(1)).as("n"), gcols: _*).collect().head
      val n = row.getLong(0)
      if (n > 0) {
        var j = 0
        while (j < w.length) {
          w(j) += (etaNum * row.getLong(j + 1)) / (etaDen * n * 10000L)
          j += 1
        }
      }
    }
    (mu, w)
  }

  /** Score `feats` under LR fit (mu, w): zlr10 = the exact long logit on
    * the 1e10 grid over the SAME centered-clamped projection training
    * used, lr_keep = sign gate (σ(z) >= 1/2 ⇔ z >= 0). */
  private[graft] def qualityLrScoreWith(feats: DataFrame,
      mu: Array[Long], w: Array[Long]): DataFrame = {
    val z = QualityFeatNames.zipWithIndex
      .map { case (f, i) =>
        greatest(least(col(f) - lit(mu(i)), lit(10000L)), lit(-10000L)) *
          lit(w(i + 1)) }
      .reduce(_ + _) + lit(w(0) * 10000L)
    feats.select(col("doc_id"), z.as("zlr10"),
      when(z >= 0, 1).otherwise(0).as("lr_keep"))
  }

  /** The full LR-gate chain (features + seed labels + K-round fit +
    * scoring) — what AnnModels.lrMargins runs ONCE per corpus state. */
  private[graft] def qualityLrInline(s: SparkSession, dir: String): DataFrame = {
    val feats = qualityFeaturesOf(docs(s, dir), perplexity(s, dir)).localCheckpoint()
    val (mu, w) = qualityLrFit(feats, gopherSeedOf(docs(s, dir)))
    qualityLrScoreWith(feats, mu, w)
  }

  /** The TRAINED LOGISTIC quality gate — registry-served scores
    * (AnnModels.lrMargins): the trained-margin family's third member
    * (heuristic coefficients → Rocchio centroids → logistic fit). */
  def qualityLr(s: SparkSession, dir: String): DataFrame =
    AnnModels.lrMargins(s, dir)

  /** LR-gate CONFUSION AUDIT (r14) — the report a curation team reads
    * before trusting a trained gate: confusion counts and exact
    * integer-ppm precision/recall/F1 of the logistic gate's keep decision
    * against its own Gopher seed labels, plus the keep rate. One row;
    * production pipelines (CCNet/DataComp-style) publish exactly this
    * table per classifier generation. Scale: the scored relation is the
    * registry artifact (AnnModels.lrMargins — train-once), the seed
    * battery is one shuffle-free codegen pass, the audit is one
    * map-side-combinable aggregate; all ratios stay on the integer ppm
    * grid (no doubles in the report). */
  def qualityLrAudit(s: SparkSession, dir: String): DataFrame =
    qualityLr(s, dir).select(col("doc_id"), col("lr_keep"))
      .join(gopherSeedOf(docs(s, dir)), Seq("doc_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("lr_keep") === 1 && col("cls") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("lr_keep") === 1 && col("cls") === 0, 1L).otherwise(0L)).as("fp"),
        sum(when(col("lr_keep") === 0 && col("cls") === 1, 1L).otherwise(0L)).as("fn"),
        sum(when(col("lr_keep") === 0 && col("cls") === 0, 1L).otherwise(0L)).as("tn"))
      .select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
        expr("CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 DIV (tp + fp) END")
          .as("precision_ppm"),
        expr("CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 1000000 DIV (tp + fn) END")
          .as("recall_ppm"),
        expr("CASE WHEN 2 * tp + fp + fn = 0 THEN 0 ELSE 2 * tp * 1000000 DIV (2 * tp + fp + fn) END")
          .as("f1_ppm"),
        expr("CASE WHEN n = 0 THEN 0 ELSE (tp + fp) * 1000000 DIV n END")
          .as("keep_ppm"))

  // ---- HASHED-NGRAM learned gate (the fastText shape) — r15, VERDICT
  // r14 #3: the 6-feature LR reads SURFACE statistics only, so a
  // topically-junk document with clean length/punct/stopword ratios
  // passes every trained gate. CCNet/DataComp's production classifier
  // trains on hashed bag-of-ngram features instead — word identity, not
  // word statistics. This composes the two halves the engine already
  // has: DSIR's md5 bucket hashing (word+bigram grams → FtBuckets) and
  // the exact-long batch-gradient LR loop (the qualityLrFit arithmetic
  // with the weight VECTOR as a bucket-indexed array instead of 6
  // columns). ------------------------------------------------------------

  /** Hashed feature width (2^8; the DsirBuckets regime — the plan is
    * width-independent, the production bump is a constant). */
  val FtBuckets = 256L
  /** Batch-gradient rounds — the oracle unrolls them as CTEs, and each
    * round is two token-bounded aggregates, so K stays small. */
  val FtIters = 8
  val FtEtaNum = 8L
  val FtEtaDen = 1L

  /** (doc_id, b, x6): per-GRAM-normalized hashed ngram weights on the
    * 1e6 grid — grams are the word unigrams plus the word bigrams (the
    * fastText feature recipe), hashed by the shared md5 hash52 into
    * [[FtBuckets]] buckets; x6 = occ·1e6 DIV (2·n_tok − 1), so Σ_b x6 ≤
    * 1e6 for every document and the logit bound is length-independent.
    * One corpus scan, one token-bounded shuffle (the dsirOcc shape); ng
    * rides the group keys (doc_id determines it) so no second pass. */
  private[graft] def ftOcc6(d: DataFrame, buckets: Long = FtBuckets): DataFrame = {
    val toks = wsTokens(col("text"))
    d.select(col("doc_id"), (size(toks) * 2 - 1).cast("long").as("ng"),
        explode(concat(toks, wordShingles(toks, 2))).as("g"))
      .select(col("doc_id"), col("ng"),
        pmod(hash52(col("g")), lit(buckets)).as("b"))
      .groupBy("doc_id", "ng", "b").agg(count(lit(1)).as("occ"))
      .select(col("doc_id"), col("b"), expr("occ * 1000000 DIV ng").as("x6"))
  }

  /** The hashed-ngram LR fit — [[qualityLrFit]]'s exact-integer
    * arithmetic with a (FtBuckets+1)-long weight vector: w(0) is the
    * bias (feature value 1e6), w(b+1) the bucket weights, broadcast into
    * each round as ONE array literal (no per-round join against a weight
    * relation — element_at stays inside whole-stage codegen). Each round
    * is one job: per-doc logits → grid sigmoid → residuals, then the
    * per-bucket gradient regroup unioned with the (n, g0) sentinel row
    * (b = −1), collected as ≤ FtBuckets+1 rows (model-sized). Updates
    * are truncating integer division on the 1e6 grid — the oracle
    * replays the identical trajectory. Train half = even doc_ids joined
    * to the Gopher-seed labels, the shared convention. */
  private[graft] def qualityFtFit(occ6: DataFrame, labels: DataFrame,
      buckets: Long = FtBuckets, iters: Int = FtIters,
      etaNum: Long = FtEtaNum, etaDen: Long = FtEtaDen): Array[Long] = {
    val half = occ6.join(labels, Seq("doc_id"))
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("b"), col("x6"), col("cls"))
      .localCheckpoint()
    val w = Array.fill(buckets.toInt + 1)(0L)
    for (_ <- 1 to iters) {
      val zb = sum(col("x6") * element_at(typedLit(w.drop(1).toSeq), col("b").cast("int") + 1))
      val z = (zb + lit(w(0) * 1000000L)).cast("long")
      val p6 = floor(lit(1000000.0) /
        (lit(1.0) + exp(-(z.cast("double") / lit(1e12)))) + lit(0.5)).cast("long")
      val rdoc = half.groupBy("doc_id", "cls")
        .agg((col("cls") * lit(1000000L) - p6).as("resid"))
        .select(col("doc_id"), col("resid"))
      val rows = half.join(rdoc, Seq("doc_id"))
        .select(col("b"), (col("resid") * col("x6")).as("c"), lit(0L).as("one"))
        .union(rdoc.select(lit(-1L).as("b"),
          (col("resid") * lit(1000000L)).as("c"), lit(1L).as("one")))
        .groupBy("b").agg(sum(col("c")).as("g"), sum(col("one")).as("n"))
        .collect()
      val n = rows.collectFirst { case r if r.getLong(0) == -1L => r.getLong(2) }
        .getOrElse(0L)
      // BigInt headroom (ADVICE r15): the per-bucket gradient g can reach
      // ~1e12 per training doc (|resid| ≤ 1e6 × Σ x6 ≤ 1e6), so a Long
      // etaNum·g product left int64 at ~1.1e6 training docs and SILENTLY
      // wrapped while the oracle raised. BigInt division truncates toward
      // zero exactly like Long `/`, so every in-range trajectory is
      // unchanged; the oracle's update runs in HUGEINT, so the two
      // engines now agree at any n the aggregates themselves can carry.
      // Remaining bound (documented, both engines raise, neither wraps):
      // Spark's per-bucket Long SUM of resid·x6 — worst case ~1e12 per
      // doc, i.e. ~9·10⁶ adversarial training docs — fails hard under
      // ANSI arithmetic; real corpora spread x6 over buckets and sit
      // orders of magnitude below it.
      if (n > 0) rows.foreach { r =>
        val j = if (r.getLong(0) == -1L) 0 else r.getLong(0).toInt + 1
        w(j) += ((BigInt(etaNum) * r.getLong(1)) /
          (BigInt(etaDen) * n * 1000000L)).toLong
      }
    }
    w
  }

  /** Score `occ6` under fit `w`: zft12 = the exact long logit on the
    * 1e12 grid (Σ_b x6·w_b + bias·1e6), ft_keep = sign gate. */
  private[graft] def qualityFtScoreWith(occ6: DataFrame, w: Array[Long]): DataFrame =
    occ6.groupBy("doc_id")
      .agg((sum(col("x6") * element_at(typedLit(w.drop(1).toSeq), col("b").cast("int") + 1)) +
        lit(w(0) * 1000000L)).cast("long").as("zft12"))
      .select(col("doc_id"), col("zft12"),
        when(col("zft12") >= 0, 1).otherwise(0).as("ft_keep"))

  /** The full hashed-ngram gate chain over an arbitrary documents
    * relation — what AnnModels.ftMargins runs ONCE per corpus state, and
    * what the junk-topic separation spec runs on crafted corpora. */
  private[graft] def qualityFtInlineOf(d: DataFrame): DataFrame = {
    val occ = ftOcc6(d).localCheckpoint()
    qualityFtScoreWith(occ, qualityFtFit(occ, gopherSeedOf(d)))
  }

  /** The HASHED-NGRAM learned quality gate (fastText shape) —
    * registry-served scores (AnnModels.ftMargins): the trained-margin
    * family's fourth member (heuristic coefficients → Rocchio centroids
    * → 6-feature logistic → hashed-ngram logistic). What it adds: word
    * IDENTITY — a junk-topic document with clean surface statistics
    * passes the first three gates and fails this one (spec-pinned on a
    * crafted corpus). */
  def qualityFt(s: SparkSession, dir: String): DataFrame =
    AnnModels.ftMargins(s, dir)

  /** The per-row (non-LM) part of the quality logit as ONE column over
    * `text` — every term of [[qualityModelWith]]'s logit8 except the
    * QmNll surprise term, computed from the row itself with the SAME
    * rounding steps as the feature-join path (round to 4dp, then q4).
    * This is what lets the STREAMING admission gate score a document in
    * one pass: per-row base rides the bigram explode, and only the nll
    * aggregate needs state. Equality with the batch chain is
    * spec-asserted per document. */
  private[graft] def logitBaseCol: Column = {
    def q4(c: Column): Column = floor(c * 1e4 + 0.5).cast("long")
    val toks = wsTokens(col("text"))
    val nTok = size(toks).cast("double")
    val punct = (length(col("text")) -
      length(regexp_replace(col("text"), "[^a-z0-9 ]", ""))).cast("double") / length(col("text"))
    val stop = markerCount(toks, AllStopwords).cast("double") / nTok
    val rep = lit(1.0) - size(array_distinct(toks)).cast("double") / nTok
    val sh = wordShingles(toks, 3)
    val rep3 = when(size(sh) > 0,
      floor((size(sh) - size(array_distinct(sh))).cast("double") / size(sh) * 1e6 + 0.5) / 1e6)
      .otherwise(lit(0.0))
    lit(QmBias) * lit(10000L) +
      lit(QmStop) * q4(round(stop, 4)) +
      lit(QmRepUni) * q4(round(rep, 4)) +
      lit(QmPunct) * q4(round(punct, 4)) +
      lit(QmRep3) * q4(rep3) +
      lit(QmLenPerTok) * least(size(toks), lit(QmLenCap)).cast("long") * lit(10000L)
  }

  /** (doc_id, logit8) of `d` scored against a supplied (possibly foreign)
    * corpus LM — the quality model with open-vocabulary surprise scoring,
    * the relation both the ingest admission gate and its threshold
    * training consume. */
  private[graft] def ingestLogits(d: DataFrame, c3: DataFrame, c2: DataFrame,
      u: DataFrame): DataFrame =
    qualityModelWith(d, perplexityScore(d, c3, c2, u))
      .select(col("doc_id"), col("logit8"))

  /** The calibrated keep-threshold of a (doc_id, logit8) relation as a
    * ONE-ROW relation (thr) — the ceil(N/2)-th largest logit8 via the
    * shared cumulative census (see [[qualityCalibratedOf]]); NULL thr on
    * an empty input (no corpus = no bar). */
  private[graft] def calibratedThresholdOf(m: DataFrame): DataFrame = {
    val census = Analytics.cumulativeCensus(m.select(col("logit8").as("v")))
    val target = broadcast(m.agg(count(lit(1)).as("n"))
      .withColumn("keep_n", expr("(n + 1) DIV 2"))
      .withColumn("target", col("n") - col("keep_n") + 1)
      .select(col("target")))
    census.join(target,
        col("cum") >= col("target") && (col("cum") - col("cnt")) < col("target"))
      .agg(min(col("v")).as("thr"))
  }

  /** CORPUS-CALIBRATED learned quality gate — the deployment fix for fixed
    * coefficients meeting a foreign corpus (SCALE.md r8: the shipped
    * QmBias-centered threshold keeps 46/5000 docs of a generated corpus,
    * emptying pipeline_build's manifest): instead of thresholding the logit
    * at the absolute zero the shipped-corpus calibration centered, keep the
    * TOP HALF of the corpus's own logit distribution — the
    * quantile-threshold form of model-based filtering (FineWeb-Edu keeps a
    * score quantile, CCNet buckets perplexity tertiles by the corpus's own
    * distribution). The threshold is the ceil(N/2)-th LARGEST logit8,
    * selected with the SAME two-level cumulative census the equi-depth
    * histogram uses (Analytics.cumulativeCensus — no global sort, no
    * corpus-sized window); ties at the threshold are kept, so at least
    * ceil(N/2) documents survive on ANY corpus. Integer-exact end to end:
    * logit8 is already a fixed-point long, the census is integer counts,
    * and the comparison is a long compare — bit-replayable by the oracle's
    * single-window cumsum. */
  def qualityCalibrated(s: SparkSession, dir: String): DataFrame =
    // r16: served (AnnModels.calibKeep): the logits already served, but
    // the census + rank-target threshold selection re-ran per read of
    // the three consumers; the flag relation is a pure function of the
    // served logits and the ceil(N/2) rule, so it persists alongside.
    AnnModels.calibKeep(s, dir)

  private[graft] def qualityCalibratedOf(model: DataFrame): DataFrame = {
    // The model relation feeds the count, the census bounds, the census
    // itself, AND the final flag projection. Since r12 qualityModel() is
    // a single parquet scan of the served qualityLogits artifact, so the
    // checkpoint guards four artifact re-scans rather than four scoring
    // passes — still the right call for the id-sized rows, but no longer
    // load-bearing for correctness-of-cost the way the pre-serving
    // four-pass scoring chain was.
    // (At sf0.1 the query's ~4 s is sequential job-scheduling latency
    // across the census/threshold stages, not repeated work — measured;
    // the checkpoint is for the 100 TB shape, where four corpus passes
    // would be the real cost.)
    val m = model.select(col("doc_id"), col("logit8")).localCheckpoint()
    val thr = calibratedThresholdOf(m)
    m.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("logit8"),
        when(col("logit8") >= col("thr"), 1).otherwise(0).as("calib_keep"))
  }

  /** SQL mirror of [[qualityCalibrated]]: the model CTE, a single-window
    * cumulative census over logit8, the ceil(N/2)-keep rank target, and
    * the >= threshold flag. */
  private[operators] lazy val qualityCalibratedSql: String =
    // alias qmm (not qm): pipeline_build_calibrated nests this whole query
    // inside its own qm CTE, and distinct names keep the scoping unambiguous
    s"WITH qmm AS ($qualityModelSql), " +
      "nn AS (SELECT count(*) AS n, (count(*) + 1) // 2 AS keep_n FROM qmm), " +
      "tt AS (SELECT n - keep_n + 1 AS target FROM nn), " +
      "cc AS (SELECT logit8, cnt, sum(cnt) OVER (ORDER BY logit8) AS cum FROM " +
      "(SELECT logit8, count(*) AS cnt FROM qmm GROUP BY 1)), " +
      "thr AS (SELECT cc.logit8 AS thr FROM cc, tt WHERE cc.cum >= tt.target AND cc.cum - cc.cnt < tt.target) " +
      "SELECT qmm.doc_id, qmm.logit8, CASE WHEN qmm.logit8 >= thr.thr THEN 1 ELSE 0 END AS calib_keep " +
      "FROM qmm CROSS JOIN thr"

  /** The corpus report card — the first query every 100 TB curation run
    * issues and re-issues after each stage: per (lang, source) cell, how
    * many documents, how many whitespace tokens, how many are exact
    * duplicates of ANOTHER document (corpus-wide md5 census, the
    * dedup_exact shape: only 16-byte hashes shuffle), and how many pass
    * the Gopher battery. The duplicate census and the Gopher flags join
    * back on doc-count-sized relations; everything else fuses into the
    * scan. Integer counts only — nothing to drift. */
  def corpusStats(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // the hashed census relation feeds the duplicate census AND the join
    // back — one text scan + md5 pass, not two (rows are id-sized: ids,
    // labels, one count, one 16-byte hash)
    val withHash = d.select(col("doc_id"), col("lang"), col("source"),
      size(wsTokens(col("text"))).as("nt"), md5Hex(col("text")).as("h"))
      .localCheckpoint()
    val census = withHash.groupBy("h").agg(count(lit(1)).as("c"))
    withHash.join(census, Seq("h"))
      .join(gopherRules(s, dir).select(col("doc_id"), col("keep")), Seq("doc_id"))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        sum((col("c") > 1).cast("long")).as("n_dup_docs"),
        sum(col("keep").cast("long")).as("n_gopher_keep"))
  }

  /** The SOURCE report card — the per-source (domain/crawl/feed) rollup a
    * curation run issues before deciding source-level drops (the
    * RefinedWeb/FineWeb discipline: whole domains are dropped before any
    * document-level gate runs). Three signals per source: size (docs,
    * whitespace tokens), document quality (Gopher keep count), and
    * NEAR-duplicate mass — the share of documents that are non-canonical
    * members of a verified near-dup cluster, read from the served
    * survivor labeling (AnnModels.survivorLabels; `corpusStats` already
    * reports the cheaper exact-dup census — templated/boilerplate sources
    * are invisible to it). Rates are exact integer ppm (count*1e6 DIV
    * n_docs): nothing to drift. Scale: per-doc relations join on doc_id,
    * then one partial-aggregated groupBy over source keys — a giant
    * source is map-side-combined, never a single-task hotspot. */
  def sourceStats(s: SparkSession, dir: String): DataFrame =
    AnnModels.srcStats(s, dir) // r17 batch 3: the persisted report card

  private[graft] def sourceStatsInline(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val base = d.select(col("doc_id"), col("source"),
      size(wsTokens(col("text"))).cast("long").as("n_tok"))
    val keepFlags = gopherRules(s, dir).select(col("doc_id"), col("keep"))
    val nearDup = AnnModels.survivorLabels(s, dir)
      .select(col("doc_id"), (col("cluster_id") =!= col("doc_id")).cast("long").as("nd"))
    base.join(keepFlags, Seq("doc_id")).join(nearDup, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("keep").cast("long")).as("n_keep"),
        sum(col("nd")).as("n_neardup"))
      .withColumn("keep_ppm", expr("n_keep * 1000000 DIV n_docs"))
      .withColumn("neardup_ppm", expr("n_neardup * 1000000 DIV n_docs"))
  }

  // --- wiring --------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_quality_model" -> (qualityModel _),
    "text_quality_calibrated" -> (qualityCalibrated _),
    "text_importance_dsir" -> (importanceDsir _),
    "text_importance_dsir_8k" -> (importanceDsir8k _),
    "text_normalize" -> (normalize _),
    "text_langid" -> (langid _),
    "text_langid_confusion" -> (langidConfusion _),
    "text_langid_model" -> (langidModel _),
    "text_langid_model_confusion" -> (langidModelConfusion _),
    "text_tfidf" -> (tfidf _),
    "text_quality" -> (quality _),
    "text_quality_trained" -> (qualityTrained _),
    "text_quality_lr" -> (qualityLr _),
    "text_quality_lr_audit" -> (qualityLrAudit _),
    "text_quality_ft" -> (qualityFt _),
    "text_perplexity_kn5" -> (perplexityKn5 _),
    "text_gopher_rules" -> (gopherRules _),
    "text_corpus_stats" -> (corpusStats _),
    "text_source_stats" -> (sourceStats _),
    "text_tokens" -> (tokens _),
    "text_bpe_fertility" -> (bpeFertility _),
    "text_bpe_fertility_256" -> (bpeFertilityBig _),
    // r16: served from the registry like the _256 sibling below — the
    // inline trainer (bpeTrain) re-ran k collect-driven merge rounds per
    // invocation while bpeTrainedIds et al. already read the persisted
    // table; the gated query now reads the same artifact (served ≡ inline
    // spec-pinned; one-train counter shared with every other consumer).
    "text_bpe_train" -> ((s: SparkSession, dir: String) => AnnModels.bpeMergeTable(s, dir)),
    "text_bpe_encode" -> (bpeEncode _),
    "text_bpe_vocab" -> (bpeVocab _),
    "text_bpe_ids" -> (bpeIds _),
    "text_bpe_trained_ids" -> (bpeTrainedIds _),
    "text_bpe_train_256" -> ((s: SparkSession, dir: String) => AnnModels.bpeMergeTableBig(s, dir)),
    "text_bpe_trained_ids_256" -> (bpeTrainedIdsBig _),
    "text_bpe_decode" -> (bpeDecode _),
    "text_pii" -> (pii _),
    "text_pii_redact" -> (piiRedact _),
    "text_repetition" -> (repetition _),
    "text_fingerprint" -> (fingerprint _),
    "text_perplexity" -> (perplexity _),
    "text_perplexity_bucket" -> (perplexityBucket _),
    "text_entropy" -> (entropy _))

  private def sqlIn(words: Seq[String]) = words.map(w => s"'$w'").mkString("(", ", ", ")")
  private def scoreSql(words: Seq[String]) =
    s"len(list_filter(toks, t -> t IN ${sqlIn(words)}))"

  private val langCase: String = {
    val scores = Markers.map { case (lang, words) => lang -> scoreSql(words) }
    val best = scores.map(_._2).reduceRight((a, b) => s"greatest($a, $b)")
    val whens = scores.map { case (lang, sc) =>
      s"WHEN $sc = $best AND $sc > 0 THEN '$lang'"
    }.mkString(" ")
    s"CASE $whens ELSE 'und' END"
  }

  private val shinglesSql =
    "list_transform(generate_series(1, len(string_split(text, ' ')) - 2), i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))"

  /** SQL mirror of [[langidModel]] — the full train→score replay
    * (hashed-bigram counts, fixed-point centroids on the even-doc_id
    * half, integer dot-product scores, (score DESC, lang ASC) argmax,
    * bigram-less docs -> 'und'); shared by the prediction oracle and
    * the model-confusion oracle. */
  private[operators] lazy val langidModelSql: String =
      (s"WITH bg AS (SELECT doc_id, lang, unnest(list_transform(generate_series(1, length(text) - 1), " +
        s"i -> (ascii(substr(text, CAST(i AS INT), 1)) * 31 + ascii(substr(text, CAST(i AS INT) + 1, 1))) % $LangidBuckets)) AS b " +
        "FROM documents), " +
        "cnt AS (SELECT doc_id, lang, b, count(*) AS c FROM bg GROUP BY 1, 2, 3), " +
        "tot AS (SELECT doc_id, count(*) AS tot FROM bg GROUP BY 1), " +
        "fr AS (SELECT cnt.doc_id, cnt.lang, cnt.b, cnt.c * 1000000 // tot.tot AS f " +
        "FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id WHERE cnt.doc_id % 2 = 0), " +
        "nl AS (SELECT lang, count(DISTINCT doc_id) AS nd FROM fr GROUP BY 1), " +
        "cent AS (SELECT fr.lang, fr.b, sum(fr.f) // max(nl.nd) AS w " +
        "FROM fr JOIN nl ON fr.lang = nl.lang GROUP BY fr.lang, fr.b), " +
        // Every (doc-with-bigrams, trained-language) pair scores — overlap
        // coalesces to 0 — because the Spark argmax considers EVERY trained
        // language; an inner bucket join would send zero-overlap docs to
        // 'und' instead of the lex-smallest zero-score language.
        "dl AS (SELECT tot.doc_id, l.cand FROM tot CROSS JOIN (SELECT DISTINCT lang AS cand FROM cent) l), " +
        "ov AS (SELECT cnt.doc_id, cent.lang AS cand, sum(cnt.c * cent.w) AS s " +
        "FROM cnt JOIN cent ON cnt.b = cent.b GROUP BY 1, 2), " +
        "sc AS (SELECT dl.doc_id, dl.cand, coalesce(ov.s, 0) AS s " +
        "FROM dl LEFT JOIN ov ON dl.doc_id = ov.doc_id AND dl.cand = ov.cand), " +
        "pred AS (SELECT doc_id, cand, row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, cand ASC) AS rn FROM sc) " +
        "SELECT d.doc_id, d.lang, coalesce(p.cand, 'und') AS pred_lang, " +
        "CASE WHEN coalesce(p.cand, 'und') = d.lang THEN 1 ELSE 0 END AS is_match " +
        "FROM documents d LEFT JOIN (SELECT doc_id, cand FROM pred WHERE rn = 1) p ON d.doc_id = p.doc_id")

  def oracles: Map[String, String] = Map(
    "text_tfidf" ->
      ("WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "tf AS (SELECT doc_id, word, count(*) AS tf FROM terms GROUP BY doc_id, word), " +
        "df AS (SELECT word, count(*) AS df FROM (SELECT DISTINCT doc_id, word FROM terms) GROUP BY word), " +
        "n AS (SELECT count(*) AS n FROM documents), " +
        "scored AS (SELECT doc_id, tf.word, round(tf * ln(CAST(n + 1 AS DOUBLE) / (df + 1)), 6) AS tfidf " +
        "FROM tf JOIN df ON tf.word = df.word CROSS JOIN n) " +
        "SELECT doc_id, word, tfidf, rank FROM (SELECT *, CAST(row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY tfidf DESC, word ASC) AS INT) AS rank FROM scored) WHERE rank <= 3"),
    "text_langid" ->
      (s"SELECT doc_id, $langCase AS pred_lang FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)"),
    "text_langid_confusion" ->
      (s"WITH pred AS (SELECT doc_id, $langCase AS pred_lang FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)), " +
        "cells AS (SELECT d.lang, p.pred_lang, count(*) AS n_docs FROM pred p JOIN documents d ON p.doc_id = d.doc_id GROUP BY 1, 2) " +
        "SELECT lang, pred_lang, n_docs, " +
        "floor(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (PARTITION BY lang) * 1000000 + 0.5) / 1000000 AS label_share FROM cells"),
    "text_langid_model" -> langidModelSql,
    "text_langid_model_confusion" ->
      // the same confusion-cell aggregation the heuristic audit runs,
      // over the full train→score model replay
      (s"WITH lm AS ($langidModelSql), " +
        "cells AS (SELECT lang, pred_lang, count(*) AS n_docs FROM lm GROUP BY 1, 2) " +
        "SELECT lang, pred_lang, n_docs, " +
        "floor(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (PARTITION BY lang) * 1000000 + 0.5) / 1000000 AS label_share FROM cells"),
    "text_quality" -> qualitySql,
    "text_quality_trained" -> qualityTrainedSql,
    "text_quality_lr" -> qualityLrSql,
    "text_quality_ft" -> qualityFtSql,
    "text_quality_lr_audit" ->
      // the full fit replay (qualityLrSql) joined back to its own seed
      // labels, folded into a one-row integer-ppm confusion report
      (s"WITH lr AS ($qualityLrSql), " +
        s"gp AS (${gopherSeedSelSql(gopherSql)}), " +
        "j AS (SELECT lr.lr_keep, gp.cls FROM lr JOIN gp ON lr.doc_id = gp.doc_id), " +
        "c AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN lr_keep = 1 AND cls = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
        "CAST(sum(CASE WHEN lr_keep = 1 AND cls = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp, " +
        "CAST(sum(CASE WHEN lr_keep = 0 AND cls = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn, " +
        "CAST(sum(CASE WHEN lr_keep = 0 AND cls = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn FROM j) " +
        "SELECT n, tp, fp, fn, tn, " +
        "CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 // (tp + fp) END AS precision_ppm, " +
        "CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 1000000 // (tp + fn) END AS recall_ppm, " +
        "CASE WHEN 2 * tp + fp + fn = 0 THEN 0 ELSE 2 * tp * 1000000 // (2 * tp + fp + fn) END AS f1_ppm, " +
        "CASE WHEN n = 0 THEN 0 ELSE (tp + fp) * 1000000 // n END AS keep_ppm FROM c"),
    "text_perplexity_kn5" -> kn5Sql,
    "text_gopher_rules" -> gopherSql,
    "text_corpus_stats" ->
      (s"WITH g AS ($gopherSql), " +
        "wh AS (SELECT doc_id, lang, source, CAST(len(string_split(text, ' ')) AS INT) AS nt, md5(text) AS h FROM documents), " +
        "census AS (SELECT h, count(*) AS c FROM wh GROUP BY h) " +
        "SELECT wh.lang, wh.source, count(*) AS n_docs, CAST(sum(wh.nt) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CASE WHEN census.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs, " +
        "CAST(sum(g.keep) AS BIGINT) AS n_gopher_keep " +
        "FROM wh JOIN census ON wh.h = census.h JOIN g ON wh.doc_id = g.doc_id " +
        "GROUP BY wh.lang, wh.source"),
    "text_source_stats" -> sourceStatsSql,
    "text_quality_model" -> qualityModelSql,
    "text_quality_calibrated" -> qualityCalibratedSql,
    "text_importance_dsir" -> dsirSelectSql(DsirBuckets),
    "text_importance_dsir_8k" -> dsirSelectSql(DsirBuckets8k),
    "text_normalize" ->
      ("SELECT doc_id, cleaned AS text_norm, " +
        "CASE WHEN cleaned <> text THEN 1 ELSE 0 END AS was_changed, " +
        "CAST(length(cleaned) AS INT) AS n_chars_norm FROM " +
        "(SELECT doc_id, text, trim(regexp_replace(lower(regexp_replace(text, '[^ -~]', ' ', 'g')), ' +', ' ', 'g')) AS cleaned " +
        "FROM documents)"),
    "text_tokens" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_ws, " +
        "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_bpe, " +
        s"${bpeCountSql("text")} AS n_bpe_real FROM documents"),
    "text_bpe_fertility" ->
      // per-language fertility/compression over the same per-doc counts
      // the text_tokens oracle replays; NON-EMPTY word counts, ratios as
      // guarded integer DIVs of the sums (NULL on a zero denominator —
      // the engine's ANSI-safe CASE mirror)
      ("SELECT lang, count(*) AS n_docs, " +
        "CAST(sum(len(list_filter(string_split(text, ' '), w -> len(w) > 0))) AS BIGINT) AS n_words, " +
        s"CAST(sum(${bpeCountSql("text")}) AS BIGINT) AS n_bpe, " +
        "CAST(CASE WHEN sum(len(list_filter(string_split(text, ' '), w -> len(w) > 0))) > 0 THEN " +
        s"CAST(sum(${bpeCountSql("text")}) AS BIGINT) * 1000000 // " +
        "CAST(sum(len(list_filter(string_split(text, ' '), w -> len(w) > 0))) AS BIGINT) END AS BIGINT) AS fertility6, " +
        s"CAST(CASE WHEN sum(${bpeCountSql("text")}) > 0 THEN " +
        "CAST(sum(octet_length(encode(text))) AS BIGINT) * 1000000 // " +
        s"CAST(sum(${bpeCountSql("text")}) AS BIGINT) END AS BIGINT) AS bytes_per_token6 " +
        "FROM documents GROUP BY lang"),
    "text_bpe_fertility_256" ->
      // the BUDGET-MATCHED audit: per-word token counts come from the
      // recursive trained-merge replay (the bpe_trained_ids_256 CTE
      // backbone's wm word map), rolled up per language — zero shared
      // constants with the engine's registry-served count
      (s"WITH RECURSIVE $bpeTrainedBigWordCtes, " +
        "pd AS (SELECT lang, text, " +
        "CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS BIGINT) AS nw, " +
        "CAST(coalesce(list_sum(list_transform(list_filter(string_split(text, ' '), w -> length(w) > 0), " +
        "w -> len(string_split(wm.m[w][1], ' ')))), 0) AS BIGINT) AS nb " +
        "FROM documents CROSS JOIN wm) " +
        "SELECT lang, count(*) AS n_docs, CAST(sum(nw) AS BIGINT) AS n_words, " +
        "CAST(sum(nb) AS BIGINT) AS n_bpe, " +
        "CAST(CASE WHEN sum(nw) > 0 THEN sum(nb) * 1000000 // sum(nw) END AS BIGINT) AS fertility6, " +
        "CAST(CASE WHEN sum(nb) > 0 THEN sum(octet_length(encode(text))) * 1000000 // sum(nb) END AS BIGINT) AS bytes_per_token6 " +
        "FROM pd GROUP BY lang"),
    "text_bpe_train" -> bpeTrainSql,
    "text_bpe_trained_ids" -> bpeTrainedIdsSql,
    "text_bpe_train_256" -> bpeTrainBigSql,
    "text_bpe_trained_ids_256" -> bpeTrainedIdsBigSql,
    "text_bpe_encode" ->
      // Per word: fold-merge, strip the open delimiter, close -> space,
      // trim — "|th;|e;" becomes "th e"; empty words (absent here, but
      // split can produce them) are dropped on both sides.
      ("SELECT doc_id, array_to_string(list_transform(" +
        "list_filter(string_split(text, ' '), w -> length(w) > 0), " +
        s"w -> trim(replace(replace($bpeMergedSql, '$BpeOpen', ''), '$BpeClose', ' '))), ' ') AS bpe_text, " +
        s"${bpeCountSql("text")} AS n_bpe FROM documents"),
    "text_bpe_vocab" -> bpeVocabSql,
    "text_bpe_ids" ->
      // Replay: encode (the fold chain), explode with positions, map each
      // token through the vocab relation, reassemble in position order.
      (s"WITH $bpeVocabCtes, " +
        "enc AS (SELECT doc_id, string_split(array_to_string(list_transform(" +
        "list_filter(string_split(text, ' '), w -> length(w) > 0), " +
        s"w -> trim(replace(replace($bpeMergedSql, '$BpeOpen', ''), '$BpeClose', ' '))), ' '), ' ') AS toks FROM documents), " +
        "tk AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)), " +
        "i -> {'pos': i, 't': toks[i]})) AS p FROM enc), " +
        "j AS (SELECT tk.doc_id, tk.p.pos AS pos, v.token_id AS id FROM tk " +
        "JOIN (SELECT token, token_id FROM cr UNION ALL SELECT token, token_id FROM pr) v ON v.token = tk.p.t), " +
        "agg AS (SELECT doc_id, array_to_string(list(CAST(id AS VARCHAR) ORDER BY pos), ' ') AS token_ids, " +
        "CAST(count(*) AS INT) AS n_tokens FROM j GROUP BY doc_id) " +
        // LEFT JOIN so an empty-encode document surfaces with zero tokens
        // (mirrors the Spark side's empty-array guard).
        "SELECT e.doc_id, coalesce(a.token_ids, '') AS token_ids, " +
        "CAST(coalesce(a.n_tokens, 0) AS INT) AS n_tokens " +
        "FROM (SELECT DISTINCT doc_id FROM enc) e LEFT JOIN agg a ON a.doc_id = e.doc_id"),
    "text_bpe_decode" ->
      // Encode each word to comma-joined ids (boundary-preserving layout),
      // decode through the inverse vocab map, compare against the
      // whitespace-normalized source. Maps are scalar-subquery built from
      // the same cr/pr vocab CTEs the Spark side materializes.
      (s"WITH $bpeVocabCtes, " +
        "v AS (SELECT token, token_id FROM cr UNION ALL SELECT token, token_id FROM pr), " +
        "em AS (SELECT map(list(token), list(token_id)) AS m FROM v), " +
        "dm AS (SELECT map(list(token_id), list(token)) AS m FROM v), " +
        "e AS (SELECT doc_id, text, array_to_string(list_transform(" +
        "list_filter(string_split(text, ' '), w -> length(w) > 0), " +
        s"w -> array_to_string(list_transform(string_split(trim(replace(replace($bpeMergedSql, '$BpeOpen', ''), '$BpeClose', ' ')), ' '), " +
        "t -> CAST(em.m[t][1] AS VARCHAR)), ',')), ' ') AS ids_text " +
        "FROM documents CROSS JOIN em), " +
        "d AS (SELECT doc_id, text, ids_text, array_to_string(list_transform(" +
        "list_filter(string_split(ids_text, ' '), w -> length(w) > 0), " +
        "w -> array_to_string(list_transform(string_split(w, ','), i -> dm.m[CAST(i AS INT)][1]), '')), ' ') AS text_rt " +
        "FROM e CROSS JOIN dm) " +
        "SELECT doc_id, ids_text, text_rt, CASE WHEN text_rt = " +
        "array_to_string(list_filter(string_split(text, ' '), w -> length(w) > 0), ' ') " +
        "THEN 1 ELSE 0 END AS exact FROM d"),
    "text_pii" -> {
      // Built from the SAME PiiPatterns constants the Spark plan compiles.
      val cnt = PiiPatterns.map { case (n, p) => s"CAST(len(regexp_extract_all(text, '$p')) AS INT) AS $n" }
      val names = PiiPatterns.map(_._1)
      val tot = names.mkString(" + ")
      s"SELECT doc_id, ${names.mkString(", ")}, $tot AS pii_total, " +
        s"CASE WHEN $tot > 0 THEN 1 ELSE 0 END AS has_pii FROM " +
        s"(SELECT doc_id, ${cnt.mkString(", ")} FROM documents)"
    },
    "text_pii_redact" -> {
      val masks = PiiMasks.toMap
      val red = PiiPatterns.foldLeft("text") { case (c, (name, pat)) =>
        s"regexp_replace($c, '$pat', '${masks(name)}', 'g')"
      }
      s"SELECT doc_id, $red AS text_redacted, " +
        s"CASE WHEN $red <> text THEN 1 ELSE 0 END AS was_redacted FROM documents"
    },
    "text_repetition" -> repetitionSql,
    "text_fingerprint" ->
      (s"SELECT doc_id, md5(text) AS content_md5, " +
        s"coalesce(list_min(list_transform($shinglesSql, x -> md5(x))), md5(text)) AS shingle_fp FROM documents"),
    "text_perplexity" -> perplexitySql,
    "text_entropy" ->
      ("SELECT doc_id, n AS n_chars, CAST(len(dist) AS INT) AS n_distinct_chars, " +
        "CASE WHEN n > 0 THEN floor(CAST(list_max(list_transform(dist, c -> len(list_filter(cl, x -> x = c)))) AS DOUBLE) / n * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS max_char_ratio, " +
        "CASE WHEN n > 0 THEN floor((ln(CAST(n AS DOUBLE)) - CAST(list_sum(list_transform(dist, " +
        "c -> CAST(floor(len(list_filter(cl, x -> x = c)) * ln(CAST(len(list_filter(cl, x -> x = c)) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT))) AS DOUBLE) / 1000000 / n) * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS entropy_nats FROM " +
        "(SELECT doc_id, CAST(len(cl) AS INT) AS n, list_distinct(cl) AS dist, cl FROM " +
        "(SELECT doc_id, list_transform(generate_series(1, length(text)), i -> substr(text, i, 1)) AS cl FROM documents))"),
    "text_perplexity_bucket" ->
      (s"WITH $pplBucketCtes SELECT doc_id, lang, avg_nll, ppl_bucket FROM pb"))

  /** CTE chain ending in `pb(doc_id, lang, avg_nll, ppl_bucket)` — the
    * perplexity-tertile replay, shared with Pipeline's curriculum oracle. */
  private[graft] lazy val pplBucketCtes: String =
    s"ppl AS ($perplexitySql), " +
      "a AS (SELECT p.doc_id, d.lang, p.avg_nll, CAST(floor(p.avg_nll * 1000000 + 0.5) AS BIGINT) AS n6 " +
      "FROM ppl p JOIN documents d ON p.doc_id = d.doc_id), " +
      "hist AS (SELECT lang, n6, count(*) AS cnt FROM a GROUP BY 1, 2), " +
      "cum AS (SELECT lang, n6, " +
      "sum(cnt) OVER (PARTITION BY lang ORDER BY n6 ROWS UNBOUNDED PRECEDING) AS cum, " +
      "sum(cnt) OVER (PARTITION BY lang) AS n FROM hist), " +
      "thr AS (SELECT lang, min(CASE WHEN cum >= (n + 2) // 3 THEN n6 END) AS t1, " +
      "min(CASE WHEN cum >= (2 * n + 2) // 3 THEN n6 END) AS t2 FROM cum GROUP BY lang), " +
      "pb AS (SELECT a.doc_id, a.lang, a.avg_nll, " +
      "CASE WHEN a.n6 <= t.t1 THEN 'head' WHEN a.n6 <= t.t2 THEN 'middle' ELSE 'tail' END AS ppl_bucket " +
      "FROM a JOIN thr t ON a.lang = t.lang)"

  /** Shared CTEs of the vocab replay: corpus characters ranked ascending
    * (cr), merge products id'd n + rank - 1 with duplicate/char products
    * dropped (pr) — built from the same [[BpeMerges]] constant. */
  private lazy val bpeVocabCtes: String = {
    val values = BpeMerges.zipWithIndex
      .map { case ((a, b), i) => s"(${i + 1}, '$a$b')" }.mkString(", ")
    "c AS (SELECT DISTINCT unnest(list_transform(generate_series(1, length(ns)), " +
      "i -> substr(ns, i, 1))) AS token FROM (SELECT replace(text, ' ', '') AS ns FROM documents)), " +
      "cr AS (SELECT CAST(row_number() OVER (ORDER BY token) - 1 AS INT) AS token_id, " +
      "token, 'char' AS kind FROM c), " +
      "nc AS (SELECT count(*) AS n FROM c), " +
      s"m AS (SELECT * FROM (VALUES $values) AS t(rank, token)), " +
      "prod AS (SELECT token, min(rank) AS rank FROM m GROUP BY token), " +
      "pr AS (SELECT CAST(n + p.rank - 1 AS INT) AS token_id, p.token, 'merge' AS kind " +
      "FROM prod p CROSS JOIN nc WHERE p.token NOT IN (SELECT token FROM c))"
  }

  private lazy val bpeVocabSql: String =
    s"WITH $bpeVocabCtes SELECT * FROM cr UNION ALL SELECT * FROM pr"

  /** SQL mirror of [[gopherRules]]: the same integer-arithmetic rule
    * conditions over the same raw counts, built from one shared condition
    * list so Spark flags and oracle flags can never drift. */
  private[operators] val gopherSql: String = {
    val rules = Seq(
      "r_word_count" -> s"n >= $GopherMinWords AND n <= $GopherMaxWords",
      "r_mean_len" -> "3 * n <= totlen AND totlen <= 10 * n",
      "r_symbol" -> "10 * nhash <= n AND 10 * nell <= n",
      "r_alpha" -> "5 * nalpha >= 4 * n",
      "r_stop" -> s"nstop >= $GopherMinStopHits",
      "r_bullet" -> "10 * nbullet <= 9 * nlines",
      "r_ellipsis" -> "10 * nelline <= 3 * nlines")
    val flags = rules.map { case (nm, c) => s"CASE WHEN $c THEN 1 ELSE 0 END AS $nm" }
    val keep = rules.map { case (_, c) => s"($c)" }.mkString(" AND ")
    "SELECT doc_id, CAST(n AS INT) AS n_words, " +
      "floor(CAST(totlen AS DOUBLE) / n * 10000 + 0.5) / 10000 AS mean_word_len, " +
      "CAST(nstop AS INT) AS n_stop_hits, " +
      flags.mkString(", ") + ", " +
      s"CASE WHEN $keep THEN 1 ELSE 0 END AS keep FROM " +
      "(SELECT doc_id, len(toks) AS n, " +
      "list_sum(list_transform(toks, t -> length(t))) AS totlen, " +
      "length(text) - length(replace(text, '#', '')) AS nhash, " +
      "(length(text) - length(replace(text, '...', ''))) // 3 AS nell, " +
      "len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS nalpha, " +
      s"len(list_filter(list_distinct(toks), t -> t IN ${sqlIn(GopherStop)})) AS nstop, " +
      "len(lines) AS nlines, " +
      "len(list_filter(lines, l -> starts_with(l, '- ') OR starts_with(l, '* '))) AS nbullet, " +
      "len(list_filter(lines, l -> ends_with(l, '...'))) AS nelline FROM " +
      "(SELECT doc_id, text, string_split(text, ' ') AS toks, " +
      "string_split(text, chr(10)) AS lines FROM documents))"
  }

  /** Oracle mirror of [[sourceStats]] — the Gopher battery + the FULL
    * survivor-labeling replay (Dedup.survivorLabCtes, WITH RECURSIVE)
    * rolled up per source; `stp` is the terminal CTE so the source-level
    * curation gate's oracle (Pipeline.curateSourceSql) can extend the same
    * chain without re-deriving it. */
  private[operators] val sourceStatsCtes: String =
    s"RECURSIVE ${Dedup.survivorLabCtes}, " +
      s"g AS ($gopherSql), " +
      "tok AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok FROM documents), " +
      "st AS (SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
      "CAST(sum(g.keep) AS BIGINT) AS n_keep, " +
      "CAST(sum(CASE WHEN lab.cluster_id <> tok.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup " +
      "FROM tok JOIN g USING (doc_id) JOIN lab USING (doc_id) GROUP BY source), " +
      "stp AS (SELECT source, n_docs, n_tokens, n_keep, n_neardup, " +
      "n_keep * 1000000 // n_docs AS keep_ppm, " +
      "n_neardup * 1000000 // n_docs AS neardup_ppm FROM st)"

  private val sourceStatsSql: String =
    s"WITH $sourceStatsCtes SELECT * FROM stp"

  private val qualitySql: String =
    "SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens, " +
      "round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks), 4) AS avg_token_len, " +
      "round(CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text), 4) AS punct_ratio, " +
      s"round(CAST(${scoreSql(AllStopwords)} AS DOUBLE) / len(toks), 4) AS stopword_ratio, " +
      "round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS repetition_ratio, " +
      s"CAST(CAST(round(CAST(${scoreSql(AllStopwords)} AS DOUBLE) / len(toks), 4) AS DECIMAL(8,4)) * 0.5 + " +
      "(1 - CAST(round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS DECIMAL(8,4))) * 0.3 - " +
      "CAST(round(CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text), 4) AS DECIMAL(8,4)) * 0.2 + 0.2 AS DOUBLE) AS quality_score " +
      "FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)"

  private val repetitionSql: String = {
    val sh3 = "list_transform(generate_series(1, len(string_split(text, ' ')) - 2), " +
      "i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))"
    "SELECT doc_id, n_grams, n_repeated, CASE WHEN n_grams > 0 THEN " +
      "floor(CAST(n_repeated AS DOUBLE) / n_grams * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS rep_ratio FROM " +
      "(SELECT doc_id, CAST(len(sh) AS INT) AS n_grams, " +
      "CAST(len(sh) - len(list_distinct(sh)) AS INT) AS n_repeated FROM " +
      s"(SELECT doc_id, $sh3 AS sh FROM documents))"
  }

  /** LM-training CTEs over `rel` — mirrors [[trainNgramLmOf]] plus the
    * derived (V, N) scalars: token lists (tks), unigram counts (ug),
    * stats (st), bigram counts (cb), trigram counts (ct). Shared between
    * the gated perplexity oracle and the ingest-gate oracle (which trains
    * on the corpus subset). */
  private def lmCtesSql(rel: String): String =
    s"tks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM $rel), " +
      "ug AS (SELECT w, count(*) AS cu FROM (SELECT unnest(tk) AS w FROM tks) GROUP BY w), " +
      "st AS (SELECT count(*) AS v, CAST(sum(cu) AS BIGINT) AS ntok FROM ug), " +
      "cb AS (SELECT g, count(*) AS c2 FROM (SELECT unnest(list_transform(generate_series(1, len(tk) - 1), " +
      "i -> array_to_string(tk[i:i+1], ' '))) AS g FROM tks) GROUP BY g), " +
      "ct AS (SELECT g3, count(*) AS c3 FROM (SELECT unnest(list_transform(generate_series(1, len(tk) - 2), " +
      "i -> array_to_string(tk[i:i+2], ' '))) AS g3 FROM tks) GROUP BY g3)"

  /** Scoring CTEs ending in `ppl$tag(doc_id, n_grams, avg_nll)` — the
    * open-vocabulary interpolated-trigram replay of [[perplexityScore]]
    * over the token-list CTE `tokCte`, against the lmCtesSql relations
    * (ct/cb/ug/st). Per-OCCURRENCE nll rows (the Spark side weights
    * multiplicities; exact DECIMAL sums make the totals identical). The
    * mixture assembles each order's probability as one double division,
    * λ-weights left-to-right and takes one ln() — byte-for-byte the
    * engine expression shape. */
  private def pplScoreSql(tokCte: String, tag: String): String =
    s"g3s$tag AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 2), " +
      s"i -> array_to_string(tk[i:i+2], ' '))) AS g3 FROM $tokCte), " +
      s"px$tag AS (SELECT doc_id, g3, p[1] || ' ' || p[2] AS g2p, p[2] || ' ' || p[3] AS g2s, " +
      s"p[2] AS w2, p[3] AS w3 FROM (SELECT doc_id, g3, string_split(g3, ' ') AS p FROM g3s$tag)), " +
      s"scored$tag AS (SELECT doc_id, CAST(round(-ln(" +
      "0.5 * (CAST(coalesce(ct.c3, 0) + 1 AS DOUBLE) / (coalesce(cbp.c2, 0) + st.v)) + " +
      "0.375 * (CAST(coalesce(cbs.c2, 0) + 1 AS DOUBLE) / (coalesce(u2.cu, 0) + st.v)) + " +
      "0.125 * (CAST(coalesce(u3.cu, 0) + 1 AS DOUBLE) / (st.ntok + st.v))), 6) AS DECIMAL(18,6)) AS nll " +
      s"FROM px$tag LEFT JOIN ct ON px$tag.g3 = ct.g3 " +
      s"LEFT JOIN cb cbp ON px$tag.g2p = cbp.g " +
      s"LEFT JOIN cb cbs ON px$tag.g2s = cbs.g " +
      s"LEFT JOIN ug u2 ON px$tag.w2 = u2.w " +
      s"LEFT JOIN ug u3 ON px$tag.w3 = u3.w CROSS JOIN st), " +
      s"ppl$tag AS (SELECT doc_id, count(*) AS n_grams, " +
      s"floor(CAST(sum(nll) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS avg_nll " +
      s"FROM scored$tag GROUP BY doc_id)"

  private val perplexitySql: String =
    s"WITH ${lmCtesSql("documents")}, ${pplScoreSql("tks", "")} " +
      "SELECT doc_id, n_grams, avg_nll FROM ppl"

  /** SQL mirror of [[perplexityKn5]] — the full 5-gram interpolated-KN
    * train → score replay: the five count relations, every continuation
    * relation derived from their row sets, and the bottom-up probability
    * chain as the IDENTICAL expression tree (same parenthesization, same
    * coalesce/greatest steps) so both engines see the same doubles into
    * the one rounded ln(). */
  private[operators] lazy val kn5Sql: String = {
    def grams(n: Int, as: String): String =
      s"SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - ${n - 1}), " +
        s"i -> array_to_string(tk[i:i+${n - 1}], ' '))) AS $as FROM tks"
    val p1 = "CASE WHEN st.t0 > 0 THEN " +
      "(greatest(coalesce(rc1.cc1, 0)::DOUBLE - 0.5, 0.0) + 0.5 * st.u0::DOUBLE / st.v) / st.t0 " +
      "ELSE 1.0 / st.v END"
    def lvl(cc: String, t: String, uu: String, lower: String): String =
      s"CASE WHEN coalesce($t, 0) > 0 THEN " +
        s"(greatest(coalesce($cc, 0)::DOUBLE - 0.5, 0.0) + 0.5 * coalesce($uu, 0)::DOUBLE * ($lower)) / $t " +
        s"ELSE ($lower) END"
    val p2 = lvl("rc2.cc2", "rt1.t1", "rt1.u1", p1)
    val p3 = lvl("rc3.cc3", "rt2.t2", "rt2.u2", p2)
    val p4 = lvl("rc4.cc4", "rt3.t3", "rt3.u3", p3)
    val p5 = lvl("c5.c5", "rx4.x4", "rx4.u4", p4)
    "WITH tks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
      s"c5 AS (SELECT g5, count(*) AS c5 FROM (${grams(5, "g5")}) GROUP BY g5), " +
      s"c4 AS (SELECT g4, count(*) AS c4 FROM (${grams(4, "g4")}) GROUP BY g4), " +
      s"c3 AS (SELECT g3, count(*) AS c3 FROM (${grams(3, "g3")}) GROUP BY g3), " +
      s"c2 AS (SELECT g, count(*) AS c2 FROM (${grams(2, "g")}) GROUP BY g), " +
      "ug AS (SELECT w, count(*) AS cu FROM (SELECT unnest(tk) AS w FROM tks) GROUP BY w), " +
      "rx4 AS (SELECT array_to_string((string_split(g5, ' '))[1:4], ' ') AS h4, " +
      "CAST(sum(c5) AS BIGINT) AS x4, count(*) AS u4 FROM c5 GROUP BY 1), " +
      "rc4 AS (SELECT array_to_string((string_split(g5, ' '))[2:5], ' ') AS k4, count(*) AS cc4 FROM c5 GROUP BY 1), " +
      "rt3 AS (SELECT array_to_string((string_split(k4, ' '))[1:3], ' ') AS h3, " +
      "CAST(sum(cc4) AS BIGINT) AS t3, count(*) AS u3 FROM rc4 GROUP BY 1), " +
      "rc3 AS (SELECT array_to_string((string_split(g4, ' '))[2:4], ' ') AS k3, count(*) AS cc3 FROM c4 GROUP BY 1), " +
      "rt2 AS (SELECT array_to_string((string_split(k3, ' '))[1:2], ' ') AS h2, " +
      "CAST(sum(cc3) AS BIGINT) AS t2, count(*) AS u2 FROM rc3 GROUP BY 1), " +
      "rc2 AS (SELECT array_to_string((string_split(g3, ' '))[2:3], ' ') AS k2, count(*) AS cc2 FROM c3 GROUP BY 1), " +
      "rt1 AS (SELECT (string_split(k2, ' '))[1] AS h1, " +
      "CAST(sum(cc2) AS BIGINT) AS t1, count(*) AS u1 FROM rc2 GROUP BY 1), " +
      "rc1 AS (SELECT (string_split(g, ' '))[2] AS k1, count(*) AS cc1 FROM c2 GROUP BY 1), " +
      "st AS (SELECT (SELECT count(*) FROM c2) AS t0, (SELECT count(*) FROM ug) AS v, " +
      "(SELECT count(*) FROM rc1) AS u0), " +
      s"keyed AS (SELECT doc_id, g5, " +
      "array_to_string(p[1:4], ' ') AS h4, array_to_string(p[2:5], ' ') AS k4, " +
      "array_to_string(p[2:4], ' ') AS h3, array_to_string(p[3:5], ' ') AS k3, " +
      "array_to_string(p[3:4], ' ') AS h2, array_to_string(p[4:5], ' ') AS k2, " +
      "p[4] AS h1, p[5] AS k1 FROM " +
      s"(SELECT doc_id, g5, string_split(g5, ' ') AS p FROM (${grams(5, "g5")}))), " +
      s"scored AS (SELECT doc_id, CAST(round(-ln($p5), 6) AS DECIMAL(18,6)) AS nll FROM keyed " +
      "LEFT JOIN c5 USING (g5) LEFT JOIN rx4 USING (h4) LEFT JOIN rc4 USING (k4) " +
      "LEFT JOIN rt3 USING (h3) LEFT JOIN rc3 USING (k3) LEFT JOIN rt2 USING (h2) " +
      "LEFT JOIN rc2 USING (k2) LEFT JOIN rt1 USING (h1) LEFT JOIN rc1 USING (k1) CROSS JOIN st) " +
      "SELECT doc_id, count(*) AS n_grams, " +
      "floor(CAST(sum(nll) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000 AS avg_nll " +
      "FROM scored GROUP BY doc_id"
  }

  /** SQL mirror of [[qualityTrained]] — the ENTIRE fit replayed from the
    * raw corpus: the shared feature CTEs, gopher labels, per-class
    * integer-mean centroids over the even-doc_id half, and the
    * equidistant-hyperplane margin. Missing-class centroids coalesce to
    * zero exactly like the Spark side's zero-vector fallback. */
  private[operators] lazy val qualityTrainedSql: String = {
    val fs = QualityFeatNames
    val featSel =
      "SELECT q.doc_id, " +
        "CAST(floor(q.stopword_ratio * 10000 + 0.5) AS BIGINT) AS f_stop, " +
        "CAST(floor(q.repetition_ratio * 10000 + 0.5) AS BIGINT) AS f_rep, " +
        "CAST(floor(q.punct_ratio * 10000 + 0.5) AS BIGINT) AS f_punct, " +
        "CAST(floor(r.rep_ratio * 10000 + 0.5) AS BIGINT) AS f_rep3, " +
        "coalesce(CAST(floor(p.avg_nll * 10000 + 0.5) AS BIGINT), 0) AS f_nll, " +
        s"CAST(least(q.n_tokens, $QmLenCap) AS BIGINT) * 10000 // $QmLenCap AS f_len " +
        "FROM qual q JOIN rep r ON q.doc_id = r.doc_id LEFT JOIN ppl p ON q.doc_id = p.doc_id"
    val sums = fs.map(f => s"sum($f) AS s$f").mkString(", ")
    val means = fs.map(f => s"s$f // n AS ${f.replaceFirst("f_", "w_")}").mkString(", ")
    def centCte(name: String, cls: Int) =
      s"$name AS (SELECT ${fs.map(f => s"coalesce(max(${f.replaceFirst("f_", "w_")}), 0) AS ${f.replaceFirst("f_", "w_")}").mkString(", ")} FROM ce WHERE cls = $cls)"
    val dot = fs.map(f => { val w = f.replaceFirst("f_", "w_"); s"ft.$f * (c1.$w - c0.$w)" }).mkString(" + ")
    val sq = (a: String) => fs.map(f => { val w = f.replaceFirst("f_", "w_"); s"$a.$w * $a.$w" }).mkString(" + ")
    s"WITH qual AS ($qualitySql), rep AS ($repetitionSql), ppl AS ($perplexitySql), " +
      s"ft AS ($featSel), " +
      s"gp AS (${gopherSeedSelSql(gopherSql)}), " +
      s"tr AS (SELECT gp.cls, count(*) AS n, $sums FROM ft JOIN gp ON ft.doc_id = gp.doc_id " +
      "WHERE ft.doc_id % 2 = 0 GROUP BY 1), " +
      s"ce AS (SELECT cls, $means FROM tr), " +
      s"${centCte("c0", 0)}, ${centCte("c1", 1)} " +
      "SELECT doc_id, margin8, CASE WHEN margin8 >= 0 THEN 1 ELSE 0 END AS trained_keep FROM " +
      s"(SELECT ft.doc_id, CAST(2 * ($dot) - ((${sq("c1")}) - (${sq("c0")})) AS BIGINT) AS margin8 " +
      "FROM ft CROSS JOIN c0 CROSS JOIN c1)"
  }

  /** SQL mirror of [[qualityLr]] — the ENTIRE logistic fit replayed from
    * the raw corpus: the shared feature/label CTEs, then the K
    * batch-gradient rounds UNROLLED as w0..wK CTEs (the BPE merge-loop
    * pattern): each round's sigmoid quantizes to the 1e6 grid before the
    * exact-integer gradient and truncating-division update, so both
    * engines replay the identical weight trajectory. */
  // --- LR-fit SQL building blocks, shared by the corpus gate
  // (qualityLrSql) and the ingest admission gate (ingestLrSql) so the
  // fit arithmetic lives in exactly one place ---------------------------

  /** z under the round-k weights (w0 = bias rides feature value 1e4). */
  private def lrZSql(w: String): String =
    s"$w.w0 * 10000 + " +
      QualityFeatNames.zipWithIndex
        .map { case (f, i) => s"$w.w${i + 1} * $f" }.mkString(" + ")

  /** The K batch-gradient rounds UNROLLED as g1/w1..gK/wK CTEs (the BPE
    * merge-loop pattern) over a training CTE named `tr`. MATERIALIZED:
    * DuckDB inlines plain CTEs, and w_k references w_{k-1} twice (directly
    * and through g_k) — unmaterialized, the expansion is 2^K copies of the
    * whole feature chain. */
  private lazy val lrRoundsSql: String = (1 to QualityLrIters).map { k =>
    val pw = s"w${k - 1}"
    val p6 = s"CAST(floor(1000000.0 / (1.0 + exp(-((${lrZSql("w")})::DOUBLE / 10000000000.0))) + 0.5) AS BIGINT)"
    val grads = s"CAST(sum((cls * 1000000 - p6) * 10000) AS BIGINT) AS g0, " +
      QualityFeatNames.zipWithIndex.map { case (f, i) =>
        s"CAST(sum((cls * 1000000 - p6) * $f) AS BIGINT) AS g${i + 1}" }.mkString(", ")
    // coalesce: an EMPTY training half leaves g_j NULL (and n = 0, so the
    // division itself is NULL) — the Spark fit skips the update when
    // n = 0, so the mirror must keep w unchanged too, not poison it
    val upd = (0 to QualityFeatNames.size).map(j =>
      s"w.w$j + coalesce(($QualityLrEtaNum * g.g$j) // ($QualityLrEtaDen * g.n * 10000), 0) AS w$j")
      .mkString(", ")
    s"g$k AS MATERIALIZED (SELECT count(*) AS n, $grads FROM " +
      s"(SELECT tr.*, $p6 AS p6 FROM tr CROSS JOIN $pw w)), " +
      s"w$k AS MATERIALIZED (SELECT $upd FROM $pw w CROSS JOIN g$k g)"
  }.mkString(", ")

  /** The six fixed-point LR features from qual/rep/ppl CTEs. */
  private def lrFeatSelSql(qual: String, rep: String, ppl: String): String =
    "SELECT q.doc_id, " +
      "CAST(floor(q.stopword_ratio * 10000 + 0.5) AS BIGINT) AS f_stop, " +
      "CAST(floor(q.repetition_ratio * 10000 + 0.5) AS BIGINT) AS f_rep, " +
      "CAST(floor(q.punct_ratio * 10000 + 0.5) AS BIGINT) AS f_punct, " +
      "CAST(floor(r.rep_ratio * 10000 + 0.5) AS BIGINT) AS f_rep3, " +
      "coalesce(CAST(floor(p.avg_nll * 10000 + 0.5) AS BIGINT), 0) AS f_nll, " +
      s"CAST(least(q.n_tokens, $QmLenCap) AS BIGINT) * 10000 // $QmLenCap AS f_len " +
      s"FROM $qual q JOIN $rep r ON q.doc_id = r.doc_id LEFT JOIN $ppl p ON q.doc_id = p.doc_id"

  /** Centered-clamped projection x_j = clamp(f_j − mu_j, ±1e4), shared by
    * the training relation and the final scoring. */
  private def lrCtrSql(rel: String): String = QualityFeatNames.map(f =>
    s"greatest(least($rel.$f - mu.m_$f, 10000), -10000) AS $f").mkString(", ")

  /** coalesce: over an EMPTY training half sum() is NULL (and the // by
    * count 0 stays NULL) — the Spark fit uses mu = 0 there, and a NULL
    * mean would poison every centered feature and weight downstream. */
  private def lrMuSelSql: String = QualityFeatNames.map(f =>
    s"coalesce(CAST(sum($f) AS BIGINT) // count(*), 0) AS m_$f").mkString(", ")

  private def lrW0Sql: String =
    s"w0 AS (SELECT ${(0 to QualityFeatNames.size).map(j => s"CAST(0 AS BIGINT) AS w$j").mkString(", ")})"

  private[operators] lazy val qualityLrSql: String =
    s"WITH qual AS ($qualitySql), rep AS ($repetitionSql), ppl AS ($perplexitySql), " +
      s"ft AS MATERIALIZED (${lrFeatSelSql("qual", "rep", "ppl")}), " +
      s"gp AS (${gopherSeedSelSql(gopherSql)}), " +
      s"mu AS MATERIALIZED (SELECT $lrMuSelSql FROM ft WHERE doc_id % 2 = 0), " +
      s"tr AS MATERIALIZED (SELECT gp.cls, ${lrCtrSql("ft")} FROM ft JOIN gp ON ft.doc_id = gp.doc_id " +
      "CROSS JOIN mu WHERE ft.doc_id % 2 = 0), " +
      s"$lrW0Sql, " +
      s"$lrRoundsSql, " +
      s"sc AS (SELECT ft.doc_id, ${lrCtrSql("ft")} FROM ft CROSS JOIN mu) " +
      s"SELECT sc.doc_id, CAST(${lrZSql("w")} AS BIGINT) AS zlr10, " +
      s"CASE WHEN ${lrZSql("w")} >= 0 THEN 1 ELSE 0 END AS lr_keep " +
      s"FROM sc CROSS JOIN w$QualityLrIters w"

  /** SQL mirror of [[qualityFt]] — the ENTIRE hashed-ngram fit replayed
    * from the raw corpus: word+bigram grams hashed by the shared md5
    * hash52 into FtBuckets, per-gram 1e6-grid normalization, then the K
    * batch-gradient rounds UNROLLED as CTEs (the lrRoundsSql pattern)
    * with the weight VECTOR as a (b, w) relation — b = −1 is the bias
    * row; every z, sigmoid quantization, gradient and truncating-division
    * update replays the Spark trajectory bit-for-bit. MATERIALIZED on
    * every per-round CTE: fw_k is referenced by fz_{k+1}, fg_{k+1} and
    * fw_{k+1} — uninlined the expansion is exponential in K. */
  private[operators] lazy val qualityFtSql: String = {
    val B = FtBuckets
    val rounds = (1 to FtIters).map { k =>
      val pw = s"fw${k - 1}"
      s"fz$k AS MATERIALIZED (SELECT t.doc_id, t.cls, " +
        s"CAST(sum(t.x6 * w.w) AS BIGINT) + (SELECT w FROM $pw WHERE b = -1) * 1000000 AS z " +
        s"FROM ftr t JOIN $pw w ON t.b = w.b GROUP BY 1, 2), " +
        s"fr$k AS MATERIALIZED (SELECT doc_id, CAST(cls * 1000000 - " +
        s"CAST(floor(1000000.0 / (1.0 + exp(-(z::DOUBLE / 1000000000000.0))) + 0.5) AS BIGINT) AS BIGINT) AS resid FROM fz$k), " +
        // g / g0 stay HUGEINT (no BIGINT cast): the eta·g product in the
        // update below then runs in 128-bit — the Spark driver's BigInt
        // twin — instead of erroring at ~1.1e6 training docs
        s"fg$k AS MATERIALIZED (SELECT t.b, sum(r.resid * t.x6) AS g " +
        s"FROM ftr t JOIN fr$k r ON t.doc_id = r.doc_id GROUP BY 1), " +
        s"fc$k AS MATERIALIZED (SELECT count(*) AS n, coalesce(sum(resid), 0) * 1000000 AS g0 FROM fr$k), " +
        s"fw$k AS MATERIALIZED (SELECT w.b, CASE WHEN c.n = 0 THEN w.w ELSE w.w + " +
        s"coalesce(($FtEtaNum * CASE WHEN w.b = -1 THEN c.g0 ELSE g.g END) // ($FtEtaDen * c.n * 1000000), 0) END AS w " +
        s"FROM $pw w LEFT JOIN fg$k g ON w.b = g.b CROSS JOIN fc$k c)"
    }.mkString(", ")
    s"WITH gp AS (${gopherSeedSelSql(gopherSql)}), " +
      "ftk AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents), " +
      "fgr AS (SELECT doc_id, CAST(2 * len(ts) - 1 AS BIGINT) AS ng, " +
      "unnest(list_concat(ts, list_transform(generate_series(1, len(ts) - 1), i -> array_to_string(ts[i:i+1], ' ')))) AS g FROM ftk), " +
      s"focc AS (SELECT doc_id, ng, ${graft.functions.hash52Sql("g")} % $B AS b, count(*) AS occ FROM fgr GROUP BY 1, 2, 3), " +
      "fx AS MATERIALIZED (SELECT doc_id, b, occ * 1000000 // ng AS x6 FROM focc), " +
      "ftr AS MATERIALIZED (SELECT fx.doc_id, fx.b, fx.x6, gp.cls FROM fx JOIN gp ON fx.doc_id = gp.doc_id WHERE fx.doc_id % 2 = 0), " +
      s"fw0 AS (SELECT CAST(b AS BIGINT) AS b, CAST(0 AS BIGINT) AS w FROM range(-1, $B) t(b)), " +
      s"$rounds, " +
      s"fsc AS (SELECT t.doc_id, CAST(sum(t.x6 * w.w) AS BIGINT) + (SELECT w FROM fw$FtIters WHERE b = -1) * 1000000 AS z " +
      s"FROM fx t JOIN fw$FtIters w ON t.b = w.b GROUP BY 1) " +
      "SELECT doc_id, CAST(z AS BIGINT) AS zft12, CASE WHEN z >= 0 THEN 1 ELSE 0 END AS ft_keep FROM fsc"
  }

  /** SQL mirror of EventStreams.ingestGateBatch — the FULL admission
    * chain replayed from the raw corpus: corpus-side LM (source !=
    * 'src0'), corpus logits and their calibrated census threshold, ingest
    * logits under OPEN scoring (left joins: unseen bigrams/prefixes
    * smooth to count 0), and the admit compare (NULL threshold admits).
    * The per-set quality/repetition CTEs reuse the gated SQL strings with
    * the source relation swapped in. */
  /** Oracle for the DSIR admission gate: replay the importance fit on the
    * CORPUS (source <> 'src0') over the FULL bucket domain (left join +
    * add-one smoothing — ingest batches can carry buckets the corpus
    * never emitted), calibrate the bar on the corpus's own top-quartile
    * logw6, then score and gate the ingest batch (source = 'src0'). */
  /** Full train→weight→select replay of [[importanceDsirOf]] at the
    * given hashed feature width: hashed unigram buckets, add-one smoothed
    * target/raw log-ratios (6-dec DECIMAL), census threshold. One
    * function of the bucket count — the 256 and 8192 gates share every
    * byte of arithmetic (VERDICT r11 #4: the oracle bump for realistic
    * width is a constant, by construction). */
  private def dsirSelectSql(buckets: Long): String =
    s"WITH g AS (${gopherSeedSelSql(gopherSql, as = "tgt")}), " +
      "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), " +
      s"occ AS (SELECT doc_id, ${hash52Sql("w")} % $buckets AS b, count(*) AS occ FROM tok GROUP BY 1, 2), " +
      "wt AS (SELECT o.doc_id, o.b, o.occ, g.tgt FROM occ o JOIN g ON o.doc_id = g.doc_id), " +
      "bs AS (SELECT b, sum(occ) AS cr, sum(occ * tgt) AS ct FROM wt GROUP BY 1), " +
      "tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM bs), " +
      s"lr AS (SELECT b, CAST(round(ln(((ct + 1)::DOUBLE * (nr + $buckets)::DOUBLE) / " +
      s"((cr + 1)::DOUBLE * (nt + $buckets)::DOUBLE)), 6) AS DECIMAL(18,6)) AS lr FROM bs, tot), " +
      // outer CAST: DuckDB sum() is HUGEINT, so the quotient must come
      // back to BIGINT to hash/compare as int64 against the Spark column
      "s6 AS (SELECT wt.doc_id, CAST(CAST(sum(wt.occ * lr.lr) * 1000000 AS BIGINT) // sum(wt.occ) AS BIGINT) AS logw6 " +
      "FROM wt JOIN lr ON wt.b = lr.b GROUP BY 1), " +
      "nn AS (SELECT count(*) AS n, (count(*) + 3) // 4 AS keep_n FROM s6), " +
      "tt AS (SELECT n - keep_n + 1 AS target FROM nn), " +
      "cc AS (SELECT logw6, cnt, sum(cnt) OVER (ORDER BY logw6) AS cum FROM " +
      "(SELECT logw6, count(*) AS cnt FROM s6 GROUP BY 1)), " +
      "thr AS (SELECT min(cc.logw6) AS thr FROM cc, tt WHERE cc.cum >= tt.target AND cc.cum - cc.cnt < tt.target) " +
      "SELECT s6.doc_id, s6.logw6, CASE WHEN s6.logw6 >= thr.thr THEN 1 ELSE 0 END AS dsir_keep " +
      "FROM s6 CROSS JOIN thr"

  private[graft] lazy val ingestDsirSql: String = {
    require(gopherSql.sliding("FROM documents".length).count(_ == "FROM documents") == 1,
      "corp swap expects exactly one documents reference in gopherSql")
    val gopherCorp = gopherSql.replace("FROM documents", "FROM corp")
    val B = DsirBuckets
    "WITH corp AS (SELECT * FROM documents WHERE source <> 'src0'), " +
      "ing AS (SELECT * FROM documents WHERE source = 'src0'), " +
      s"g AS (${gopherSeedSelSql(gopherCorp, as = "tgt")}), " +
      "ctok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corp), " +
      s"cocc AS (SELECT doc_id, ${graft.functions.hash52Sql("w")} % $B AS b, count(*) AS occ FROM ctok GROUP BY 1, 2), " +
      "wt AS (SELECT o.doc_id, o.b, o.occ, g.tgt FROM cocc o JOIN g ON o.doc_id = g.doc_id), " +
      "bs AS (SELECT b, sum(occ) AS cr, sum(occ * tgt) AS ct FROM wt GROUP BY 1), " +
      "tot AS (SELECT coalesce(sum(cr), 0) AS nr, coalesce(sum(ct), 0) AS nt FROM bs), " +
      s"dom AS (SELECT unnest(generate_series(0, ${B - 1})) AS b), " +
      s"lr AS (SELECT dom.b, CAST(round(ln(((coalesce(bs.ct, 0) + 1)::DOUBLE * (tot.nr + $B)::DOUBLE) / " +
      s"((coalesce(bs.cr, 0) + 1)::DOUBLE * (tot.nt + $B)::DOUBLE)), 6) AS DECIMAL(18,6)) AS lr " +
      "FROM dom LEFT JOIN bs ON dom.b = bs.b CROSS JOIN tot), " +
      "cs6 AS (SELECT wt.doc_id, CAST(CAST(sum(wt.occ * lr.lr) * 1000000 AS BIGINT) // sum(wt.occ) AS BIGINT) AS logw6 " +
      "FROM wt JOIN lr ON wt.b = lr.b GROUP BY 1), " +
      "nn AS (SELECT count(*) AS n, (count(*) + 3) // 4 AS keep_n FROM cs6), " +
      "tt AS (SELECT n - keep_n + 1 AS target FROM nn), " +
      "cc AS (SELECT logw6, cnt, sum(cnt) OVER (ORDER BY logw6) AS cum FROM " +
      "(SELECT logw6, count(*) AS cnt FROM cs6 GROUP BY 1)), " +
      "thr AS (SELECT min(cc.logw6) AS thr FROM cc, tt WHERE cc.cum >= tt.target AND cc.cum - cc.cnt < tt.target), " +
      "itok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM ing), " +
      s"iocc AS (SELECT doc_id, ${graft.functions.hash52Sql("w")} % $B AS b, count(*) AS occ FROM itok GROUP BY 1, 2), " +
      "is6 AS (SELECT iocc.doc_id, CAST(CAST(sum(iocc.occ * lr.lr) * 1000000 AS BIGINT) // sum(iocc.occ) AS BIGINT) AS logw6 " +
      "FROM iocc JOIN lr ON iocc.b = lr.b GROUP BY 1) " +
      "SELECT i.doc_id, i.logw6, CASE WHEN t.thr IS NULL OR i.logw6 >= t.thr THEN 1 ELSE 0 END AS admit " +
      "FROM is6 i CROSS JOIN thr t"
  }

  private[graft] lazy val ingestGateSql: String = {
    def onSet(tag: String, src: String): String = {
      // the swap contract: each gated SQL names the table EXACTLY once —
      // if that ever changes, fail at oracle-construction time, not with
      // a silently half-rewritten oracle
      def swap(sql: String): String = {
        require(sql.sliding("FROM documents".length).count(_ == "FROM documents") == 1,
          "per-set CTE swap expects exactly one documents reference")
        sql.replace("FROM documents", s"FROM $src")
      }
      val qual = swap(qualitySql)
      val rep = swap(repetitionSql)
      // per-set token lists feed the shared trigram scoring CTEs (open
      // scoring against the corpus-trained ct/cb/ug/st relations)
      s"qual$tag AS ($qual), rep$tag AS ($rep), " +
        s"tk$tag AS (SELECT doc_id, string_split(text, ' ') AS tk FROM $src), " +
        pplScoreSql(s"tk$tag", tag) + ", " +
        s"qm$tag AS (SELECT doc_id, logit8 FROM (SELECT q.doc_id, CAST($QmBias * 10000 " +
        s"+ ($QmStop) * CAST(floor(q.stopword_ratio * 10000 + 0.5) AS BIGINT) " +
        s"+ ($QmRepUni) * CAST(floor(q.repetition_ratio * 10000 + 0.5) AS BIGINT) " +
        s"+ ($QmPunct) * CAST(floor(q.punct_ratio * 10000 + 0.5) AS BIGINT) " +
        s"+ ($QmRep3) * CAST(floor(r.rep_ratio * 10000 + 0.5) AS BIGINT) " +
        s"+ ($QmNll) * coalesce(CAST(floor(p.avg_nll * 10000 + 0.5) AS BIGINT), 0) " +
        s"+ ($QmLenPerTok) * least(q.n_tokens, $QmLenCap) * CAST(10000 AS BIGINT) AS BIGINT) AS logit8 " +
        s"FROM qual$tag q JOIN rep$tag r ON q.doc_id = r.doc_id LEFT JOIN ppl$tag p ON q.doc_id = p.doc_id))"
    }
    "WITH corp AS (SELECT * FROM documents WHERE source <> 'src0'), " +
      "ing AS (SELECT * FROM documents WHERE source = 'src0'), " +
      lmCtesSql("corp") + ", " +
      onSet("c", "corp") + ", " + onSet("i", "ing") + ", " +
      "nn AS (SELECT count(*) AS n, (count(*) + 1) // 2 AS keep_n FROM qmc), " +
      "tt AS (SELECT n - keep_n + 1 AS target FROM nn), " +
      "ccq AS (SELECT logit8, cnt, sum(cnt) OVER (ORDER BY logit8) AS cum FROM " +
      "(SELECT logit8, count(*) AS cnt FROM qmc GROUP BY 1)), " +
      "thr AS (SELECT min(ccq.logit8) AS thr FROM ccq, tt WHERE ccq.cum >= tt.target AND ccq.cum - ccq.cnt < tt.target) " +
      "SELECT i.doc_id, i.logit8, CASE WHEN t.thr IS NULL OR i.logit8 >= t.thr THEN 1 ELSE 0 END AS admit " +
      "FROM qmi i CROSS JOIN thr t"
  }

  /** SQL mirror of EventStreams.ingestLrBatch — the LOGISTIC admission
    * chain replayed end to end: corpus-side LM (source <> 'src0'), corpus
    * features + Gopher seed labels + the K unrolled fit rounds (the SAME
    * lrRoundsSql string qualityLrSql interpolates — one fit arithmetic,
    * two oracles), then the ingest batch's features under OPEN LM scoring
    * and the trained (mu, w) sign gate. */
  private[graft] lazy val ingestLrSql: String = {
    def swap(sql: String, src: String): String = {
      require(sql.sliding("FROM documents".length).count(_ == "FROM documents") == 1,
        "per-set CTE swap expects exactly one documents reference")
      sql.replace("FROM documents", s"FROM $src")
    }
    def setCtes(tag: String, src: String): String =
      s"qual$tag AS (${swap(qualitySql, src)}), rep$tag AS (${swap(repetitionSql, src)}), " +
        s"tk$tag AS (SELECT doc_id, string_split(text, ' ') AS tk FROM $src), " +
        pplScoreSql(s"tk$tag", tag) + ", " +
        s"ft$tag AS MATERIALIZED (${lrFeatSelSql(s"qual$tag", s"rep$tag", s"ppl$tag")})"
    "WITH corp AS (SELECT * FROM documents WHERE source <> 'src0'), " +
      "ing AS (SELECT * FROM documents WHERE source = 'src0'), " +
      lmCtesSql("corp") + ", " +
      setCtes("c", "corp") + ", " + setCtes("i", "ing") + ", " +
      s"gp AS (${gopherSeedSelSql(swap(gopherSql, "corp"))}), " +
      s"mu AS MATERIALIZED (SELECT $lrMuSelSql FROM ftc WHERE doc_id % 2 = 0), " +
      s"tr AS MATERIALIZED (SELECT gp.cls, ${lrCtrSql("ftc")} FROM ftc JOIN gp ON ftc.doc_id = gp.doc_id " +
      "CROSS JOIN mu WHERE ftc.doc_id % 2 = 0), " +
      s"$lrW0Sql, " +
      s"$lrRoundsSql, " +
      s"sc AS (SELECT fti.doc_id, ${lrCtrSql("fti")} FROM fti CROSS JOIN mu) " +
      s"SELECT sc.doc_id, CAST(${lrZSql("w")} AS BIGINT) AS zlr10, " +
      s"CASE WHEN ${lrZSql("w")} >= 0 THEN 1 ELSE 0 END AS admit " +
      s"FROM sc CROSS JOIN w$QualityLrIters w"
  }

  /** The LR admission-model trainer — what AnnModels.lrGate runs ONCE per
    * corpus state: the qualityLrInline fit re-based on the ingest
    * convention (train on source <> 'src0'; the nll feature scores under
    * the SAME registry-served corpus LM the trigram admission gate uses),
    * emitted as the 7-row (j, mu, w) model relation batch admission
    * scores against — j = 0 is the bias (mu 0), j = 1..6 the
    * QualityFeatNames order. */
  private[graft] def qualityLrGateInline(s: SparkSession, dir: String): DataFrame = {
    val Seq(c3, c2, u, _) = AnnModels.ingestGate(s, dir)
    val corpus = docs(s, dir).filter(col("source") =!= "src0")
    val feats = qualityFeaturesOf(corpus, perplexityScore(corpus, c3, c2, u))
      .localCheckpoint()
    val (mu, w) = qualityLrFit(feats, gopherSeedOf(corpus))
    import s.implicits._
    (0 to QualityFeatNames.size)
      .map(j => (j, if (j == 0) 0L else mu(j - 1), w(j)))
      .toDF("j", "mu", "w")
  }

  /** SQL mirror of [[qualityModelOf]]: the SAME coefficient constants
    * interpolated over the composed feature CTEs, so the weights can never
    * drift between engines. The perplexity CTE nests its own WITH — DuckDB
    * scopes it inside the parenthesized subquery. */
  private[operators] val qualityModelSql: String =
    s"WITH qual AS ($qualitySql), rep AS ($repetitionSql), ppl AS ($perplexitySql) " +
      "SELECT doc_id, logit8, CAST(logit8 AS DOUBLE) / 100000000 AS logit, " +
      "CASE WHEN logit8 >= 0 THEN 1 ELSE 0 END AS model_keep FROM " +
      s"(SELECT q.doc_id, CAST($QmBias * 10000 " +
      s"+ ($QmStop) * CAST(floor(q.stopword_ratio * 10000 + 0.5) AS BIGINT) " +
      s"+ ($QmRepUni) * CAST(floor(q.repetition_ratio * 10000 + 0.5) AS BIGINT) " +
      s"+ ($QmPunct) * CAST(floor(q.punct_ratio * 10000 + 0.5) AS BIGINT) " +
      s"+ ($QmRep3) * CAST(floor(r.rep_ratio * 10000 + 0.5) AS BIGINT) " +
      s"+ ($QmNll) * coalesce(CAST(floor(p.avg_nll * 10000 + 0.5) AS BIGINT), 0) " +
      s"+ ($QmLenPerTok) * least(q.n_tokens, $QmLenCap) * CAST(10000 AS BIGINT) AS BIGINT) AS logit8 " +
      "FROM qual q JOIN rep r ON q.doc_id = r.doc_id LEFT JOIN ppl p ON q.doc_id = p.doc_id)"
}
