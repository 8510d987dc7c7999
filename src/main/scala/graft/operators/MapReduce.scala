package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._
import graft.sources.Tables

/** Section A of SURVEY §2: the reference's MapReduce example workloads,
  * re-expressed as declarative Spark plans.
  *
  * Mapping of Hadoop machinery → Spark-first equivalent:
  *  - map + combiner + reduce (WordCount.java:34, combiner at :78) →
  *    groupBy/agg: Catalyst always plans a partial (map-side) aggregate
  *    before the shuffle, which IS the combiner — for free, codegen'd.
  *  - TotalOrderPartitioner (Sort.java:40, terasort/) → range-partitioned
  *    global sort (`orderBy`): Spark samples ranges exactly like
  *    InputSampler + TotalOrderPartitioner.
  *  - FirstPartitioner + FirstGroupingComparator (SecondarySort.java:133,:145)
  *    → window partitionBy(key).orderBy(key2): shuffle by first field, sort
  *    within partitions by the pair.
  *  - CompositeInputFormat map-side join (Join.java:40) / distributed-cache
  *    join → `broadcast()` hash join; reduce-side join (hadoop-tools/
  *    hadoop-datajoin) → shuffle sort-merge join (`hint("merge")`).
  *  - ValueAggregator framework (AggregateWordCount.java) → multi-agg in one
  *    groupBy pass.
  *  - RandomWriter-style sampling → deterministic portable-hash sampling
  *    (md5 domain) so the oracle can replay the "random" choice.
  *
  * All money/value sums go through DECIMAL (exact, order-independent) and are
  * surfaced as DOUBLE for schema parity with the DuckDB oracle.
  */
object MapReduce {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  // --- queries -------------------------------------------------------------

  def wordcount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(wsTokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  def grep(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(wsTokens(col("text"))).as("word"))
      .filter(col("word").rlike("ar"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  def sort(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_shipdate"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  def secondarySort(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), row_number().over(w).as("rn"))
  }

  def joinReduceSide(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    o.hint("merge").join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name", "o_orderstatus")
      .agg(count(lit(1)).as("cnt"), dsum(dec(col("o_totalprice"))).as("total_price"))
  }

  def joinMapSide(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    val su = t(s, dir, "supplier")
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("cnt"), dsum(dec(col("l_quantity"))).as("sum_qty"))
  }

  def semiAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
      .select(lit("has_orders").as("grp"), col("c_mktsegment"), col("cnt"))
    val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
      .select(lit("no_orders").as("grp"), col("c_mktsegment"), col("cnt"))
    semi.unionAll(anti)
  }

  /** Two-level aggregation instead of count + countDistinct in one pass:
    * mixing them forces Catalyst's Expand plan (2x row multiplication and a
    * second shuffle over the expanded rows). Pre-aggregating by (source,
    * word) shuffles each distinct word once; the second agg over the tiny
    * distinct relation derives both counts exactly. */
  def aggregateWordcount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"), explode(wsTokens(col("text"))).as("word"))
      .groupBy("source", "word")
      .agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        min(col("word")).as("min_word"),
        max(col("word")).as("max_word"),
        max(length(col("word"))).as("max_len"))

  /** Token-length summary. The median stays Spark's count-map
    * `percentile`, unlike `Analytics.percentiles`' sorted list: word
    * lengths take about 20 distinct values, so the map holds 20 counts
    * while a sorted list would hold every token. */
  def wordStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(wsTokens(col("text"))).as("word"))
      .select(length(col("word")).as("len"))
      .agg(
        count(lit(1)).as("n"),
        (sum(col("len")).cast("double") / count(lit(1))).as("mean_len"),
        expr("percentile(len, 0.5)").as("median_len"),
        round(stddev_samp(col("len")), 6).as("stddev_len"))

  def histogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(wsTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .groupBy("freq").agg(count(lit(1)).as("n_words"))

  def multiFileWordcount(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(explode(wsTokens(col("text"))).as("word"))
    val p = t(s, dir, "part").select(explode(wsTokens(col("p_name"))).as("word"))
    d.unionAll(p).groupBy("word").agg(count(lit(1)).as("cnt"))
  }

  def distinctPairs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(col("user_id"), col("event_type")).distinct()

  def topK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(20)

  /** Top-5 orders per priority class through the custom two-phase
    * TopKPerKey operator (graft.plans) — per-partition bounded heaps, only
    * k rows per (key, partition) reach the shuffle. */
  def topKPerKey(s: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerKey.topKPerKey(
      t(s, dir, "orders").select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice")),
      keyCols = Seq("o_orderpriority"),
      orderCols = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
      k = 5)

  def sample(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(substring(md5Hex(col("l_orderkey").cast("string")), 1, 2) <= "14")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  /** Full outer join (Join.java supports "outer" composite joins): region x
    * nation keyed on regionkey, preserving unmatched sides. */
  def joinFullOuter(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    n.join(r, n("n_regionkey") === r("r_regionkey"), "full_outer")
      .select(col("n_name"), col("r_name"))
  }

  /** Grep with a capture group (RegexMapper.GROUP, Grep.java:57): extract
    * the first digit-run from matching tokens and count per capture. */
  def grepGroup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(regexp_extract(col("p_name"), "([a-z]+) ([a-z]+)", 2).as("noun"))
      .filter(col("noun") =!= "")
      .groupBy("noun").agg(count(lit(1)).as("cnt"))

  /** Word co-occurrence ("pairs" pattern): adjacent-token bigram counts —
    * the canonical MapReduce second example after wordcount. */
  def cooccurrence(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(graft.functions.ShingleExpressions.shingles(col("text"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))

  /** Inverted index: token -> sorted distinct posting list (as a joined
    * string so the oracle compare is scalar). */
  def invertedIndex(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id").cast("string").as("d"), explode(wsTokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(array_join(sort_array(collect_set(col("d"))), ",").as("postings"),
        countDistinct(col("d")).as("df"))

  /** Funnel analysis over events: per user, first time reaching each stage
    * and whether the full view->click->purchase funnel converted in order. */
  def funnel(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("first_view"),
        min(when(col("event_type") === "click", col("ts"))).as("first_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
      .withColumn("converted",
        col("first_view").isNotNull && col("first_click").isNotNull &&
          col("first_purchase").isNotNull &&
          col("first_view") < col("first_click") && col("first_click") < col("first_purchase"))

  /** Semi-structured extraction: pull props.k out of the JSON column and
    * aggregate — the schema-on-read path. */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("k_sum"), max(col("k")).as("k_max"))

  // --- wiring --------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mr_wordcount" -> (wordcount _),
    "mr_grep" -> (grep _),
    "mr_sort" -> (sort _),
    "mr_secondary_sort" -> (secondarySort _),
    "mr_join_reduceside" -> (joinReduceSide _),
    "mr_join_mapside" -> (joinMapSide _),
    "mr_semi_anti_join" -> (semiAntiJoin _),
    "mr_aggregate_wordcount" -> (aggregateWordcount _),
    "mr_word_stats" -> (wordStats _),
    "mr_histogram" -> (histogram _),
    "mr_multifile_wordcount" -> (multiFileWordcount _),
    "mr_distinct" -> (distinctPairs _),
    "mr_topk" -> (topK _),
    "mr_topk_per_key" -> (topKPerKey _),
    "mr_join_full_outer" -> (joinFullOuter _),
    "mr_grep_group" -> (grepGroup _),
    "mr_cooccurrence" -> (cooccurrence _),
    "mr_inverted_index" -> (invertedIndex _),
    "mr_funnel" -> (funnel _),
    "mr_json_extract" -> (jsonExtract _),
    "mr_sample" -> (sample _))

  def oracles: Map[String, String] = Map(
    "mr_wordcount" ->
      "SELECT word, count(*) AS cnt FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) GROUP BY word",
    "mr_grep" ->
      "SELECT word, count(*) AS cnt FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) WHERE regexp_matches(word, 'ar') GROUP BY word",
    "mr_sort" ->
      "SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "mr_secondary_sort" ->
      "SELECT user_id, event_id, CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS rn FROM events",
    "mr_join_reduceside" ->
      "SELECT n_name, o_orderstatus, count(*) AS cnt, CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name, o_orderstatus",
    "mr_join_mapside" ->
      "SELECT p_brand, count(*) AS cnt, CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty FROM lineitem JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey GROUP BY p_brand",
    "mr_semi_anti_join" ->
      "SELECT 'has_orders' AS grp, c_mktsegment, count(*) AS cnt FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) GROUP BY c_mktsegment UNION ALL SELECT 'no_orders' AS grp, c_mktsegment, count(*) AS cnt FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) GROUP BY c_mktsegment",
    "mr_aggregate_wordcount" ->
      "SELECT source, count(*) AS n_tokens, count(DISTINCT word) AS n_distinct, min(word) AS min_word, max(word) AS max_word, CAST(max(length(word)) AS INT) AS max_len FROM (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents) GROUP BY source",
    "mr_word_stats" ->
      "SELECT count(*) AS n, CAST(sum(len) AS DOUBLE) / count(*) AS mean_len, quantile_cont(len, 0.5) AS median_len, round(stddev_samp(len), 6) AS stddev_len FROM (SELECT length(unnest(string_split(text, ' '))) AS len FROM documents)",
    "mr_histogram" ->
      "SELECT freq, count(*) AS n_words FROM (SELECT word, count(*) AS freq FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) GROUP BY word) GROUP BY freq",
    "mr_multifile_wordcount" ->
      "SELECT word, count(*) AS cnt FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents UNION ALL SELECT unnest(string_split(p_name, ' ')) AS word FROM part) GROUP BY word",
    "mr_distinct" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "mr_topk" ->
      "SELECT o_orderkey, o_totalprice, o_orderdate FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20",
    "mr_topk_per_key" ->
      ("SELECT o_orderpriority, o_orderkey, o_totalprice FROM " +
        "(SELECT o_orderpriority, o_orderkey, o_totalprice, row_number() OVER " +
        "(PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn FROM orders) " +
        "WHERE rn <= 5"),
    "mr_join_full_outer" ->
      "SELECT n_name, r_name FROM nation FULL OUTER JOIN region ON n_regionkey = r_regionkey",
    "mr_grep_group" ->
      ("SELECT noun, count(*) AS cnt FROM (SELECT regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS noun FROM part) " +
        "WHERE noun <> '' GROUP BY noun"),
    "mr_cooccurrence" ->
      ("SELECT bigram, count(*) AS cnt FROM (SELECT unnest(list_transform(generate_series(1, len(string_split(text, ' ')) - 1), " +
        "i -> array_to_string((string_split(text, ' '))[i:i+1], ' '))) AS bigram FROM documents) GROUP BY bigram"),
    "mr_inverted_index" ->
      ("SELECT word, string_agg(DISTINCT d, ',' ORDER BY d) AS postings, count(DISTINCT d) AS df FROM " +
        "(SELECT CAST(doc_id AS VARCHAR) AS d, unnest(string_split(text, ' ')) AS word FROM documents) GROUP BY word"),
    "mr_funnel" ->
      ("SELECT user_id, first_view, first_click, first_purchase, " +
        "first_view IS NOT NULL AND first_click IS NOT NULL AND first_purchase IS NOT NULL " +
        "AND first_view < first_click AND first_click < first_purchase AS converted FROM " +
        "(SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS first_view, " +
        "min(CASE WHEN event_type = 'click' THEN ts END) AS first_click, " +
        "min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase FROM events GROUP BY user_id)"),
    "mr_json_extract" ->
      ("SELECT event_type, count(k) AS n_with_k, CAST(sum(k) AS BIGINT) AS k_sum, max(k) AS k_max FROM " +
        "(SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events) GROUP BY event_type"),
    "mr_sample" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 2) <= '14'")
}
