package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._
import graft.sources.Tables

/** Section B of SURVEY §2: analytical query surface — the workloads a Spark
  * cluster scheduled by the reference's YARN/FCFS deployment actually runs
  * (BASELINE.json: "Spark on YARN/FCFS scheduler"). TPC-H-shaped joins and
  * aggregations plus event-stream batch analytics.
  *
  * Scale notes (100 TB): dims (region/nation/customer) broadcast where they
  * fit; fact-fact joins shuffle on the join key with AQE skew-splitting;
  * aggregations rely on Catalyst's partial-aggregate (map-side combine);
  * top-k is TakeOrderedAndProject (per-partition heaps, no global sort
  * shuffle); windows partition by user/order key so state scales with key
  * cardinality, not data volume.
  */
object Analytics {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** TPC-H Q1-shaped pricing summary; DECIMAL math, exact.
    *
    * Every input is rounded by the same `dec` cast as the oracle's, then
    * summed as its unscaled long (`unscaled`): prices and quantities in
    * cents, `price * (1 - disc)` at scale 4 and the charge at scale 6, both
    * as ANSI long multiplies. A per-row DECIMAL(22+) sum buffer is bytes
    * and BigDecimal arithmetic; a long buffer is one word. The longs are
    * summed per input split (`spark_partition_id`), so no single long
    * holds more than one split's total, and `dsumUnscaled` merges the
    * splits as DECIMAL(38,0) into the doubles `dsum` gives over the
    * decimals, bit for bit. */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    val price = unscaled(col("l_extendedprice"))
    val discPrice = price * (lit(100L) - unscaled(col("l_discount")))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp_ntz"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        spark_partition_id().as("split"),
        unscaled(col("l_quantity")).as("qty"),
        price.as("price"),
        discPrice.as("disc_price"),
        (discPrice * (lit(100L) + unscaled(col("l_tax")))).as("charge"))
      .groupBy("l_returnflag", "l_linestatus", "split")
      .agg(
        sum(col("qty")).as("qty"),
        sum(col("price")).as("price"),
        sum(col("disc_price")).as("disc_price"),
        sum(col("charge")).as("charge"),
        count(lit(1)).as("n"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsumUnscaled(col("qty"), 2).as("sum_qty"),
        dsumUnscaled(col("price"), 2).as("sum_base_price"),
        dsumUnscaled(col("disc_price"), 4).as("sum_disc_price"),
        dsumUnscaled(col("charge"), 6).as("sum_charge"),
        // a group has rows, so this sum is never null; coalesce keeps
        // count_order the non-nullable column count(*) was
        coalesce(sum(col("n")), lit(0L)).as("count_order"))
      .select(
        col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        col("sum_base_price"), col("sum_disc_price"), col("sum_charge"),
        (col("sum_qty") / col("count_order")).as("avg_qty"),
        (col("sum_base_price") / col("count_order")).as("avg_price"),
        col("count_order"))
  }

  /** TPC-H Q3-shaped shipping priority: 3-way join, agg, deterministic top-10. */
  def shippingPriority(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp_ntz"))
    val li = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp_ntz"))
    val one = lit(1).cast("decimal(12,2)")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(dsum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))).as("revenue"))
      .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q5-shaped: revenue by nation within ASIA, 6-way join. */
  def localSupplier(s: SparkSession, dir: String): DataFrame = {
    val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val n = t(s, dir, "nation")
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val li = t(s, dir, "lineitem")
    val su = t(s, dir, "supplier")
    val one = lit(1).cast("decimal(12,2)")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(su, li("l_suppkey") === su("s_suppkey"))
      .join(c, o("o_custkey") === c("c_custkey") && su("s_nationkey") === c("c_nationkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("n_name")
      .agg(dsum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))).as("revenue"))
  }

  /** Running windows per user: rank + cumulative DECIMAL-exact sum. */
  def windowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(
        col("user_id"), col("event_id"),
        row_number().over(w).as("rn"),
        sum(dec(col("value"), 10, 2)).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double").as("running_value"))
  }

  /** ROLLUP over nation × order status. SQL-path (Catalyst plans GROUP BY
    * ROLLUP as a single expand+aggregate; the DataFrame `rollup` API trips a
    * spurious ambiguous-self-join check in Spark 4.1 on this join shape). */
  def rollupAgg(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("g_orders")
    t(s, dir, "customer").createOrReplaceTempView("g_customer")
    t(s, dir, "nation").createOrReplaceTempView("g_nation")
    s.sql(
      """SELECT n_name, o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
        |FROM g_orders JOIN g_customer ON o_custkey = c_custkey
        |JOIN g_nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, o_orderstatus)""".stripMargin)
  }

  /** CUBE — the rollup's sibling: all four grouping-set combinations in
    * one pass (Catalyst expands the sets before the single aggregate, so
    * the fact table is scanned once, not 2^k times). Same Spark-4.1
    * workaround as rollupAgg: express via SQL (DataFrame .cube after a
    * multi-join trips the spurious ambiguous-self-join check). */
  def cubeAgg(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("g_orders")
    t(s, dir, "customer").createOrReplaceTempView("g_customer")
    t(s, dir, "nation").createOrReplaceTempView("g_nation")
    s.sql(
      """SELECT n_name, o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
        |FROM g_orders JOIN g_customer ON o_custkey = c_custkey
        |JOIN g_nation ON c_nationkey = n_nationkey
        |GROUP BY CUBE (n_name, o_orderstatus)""".stripMargin)
  }

  /** Gap-based sessionization (6h gap), fully SQL-expressible:
    * lag + flag + cumulative-sum session ids. Integer-microsecond math. */
  def eventSessionize(s: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = 6L * 3600 * 1000000
    val us = unix_micros(col("ts").cast("timestamp"))
    t(s, dir, "events")
      .withColumn("us", us)
      .withColumn("prev_us", lag(col("us"), 1).over(order))
      .withColumn("new_s", when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_s")).over(order.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("start_ts"),
        max(col("ts")).as("end_ts"),
        dsum(dec(col("value"), 10, 2)).as("total_value"))
  }

  /** TPC-H Q6-shaped: forecast revenue — pure filter + aggregate, the query
    * whose whole cost is the scan (pushdown must reach parquet). */
  def forecastRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1999-01-01").cast("timestamp_ntz") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
      .agg(dsum(dec(col("l_extendedprice")) * dec(col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))

  /** TPC-H Q4-shaped: priority counts for orders with a late shipment
    * (EXISTS → left-semi join; never distinct-then-join). */
  def latePriority(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1998-07-01").cast("timestamp_ntz"))
    val late = t(s, dir, "lineitem")
    o.join(late,
        o("o_orderkey") === late("l_orderkey") &&
          late("l_shipdate") > o("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q7-shaped: shipping volume between nation pairs by year.
    * Two broadcast copies of `nation` (aliased) — the dims stay map-side. */
  def nationVolume(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val su = t(s, dir, "supplier")
    val cn = t(s, dir, "nation").select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    val sn = t(s, dir, "nation").select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val one = lit(1).cast("decimal(12,2)")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(su, li("l_suppkey") === su("s_suppkey"))
      .join(broadcast(cn), c("c_nationkey") === cn("cn_key"))
      .join(broadcast(sn), su("s_nationkey") === sn("sn_key"))
      .filter(col("cust_nation") =!= col("supp_nation"))
      .groupBy(col("cust_nation"), col("supp_nation"), year(col("l_shipdate")).as("l_year"))
      .agg(dsum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))).as("revenue"))
  }

  /** Correlated-subquery pattern (orders above their customer's average),
    * decorrelated into a window — the plan Spark's own decorrelation
    * would produce, stated directly. */
  def aboveAvgOrders(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
    t(s, dir, "orders")
      .withColumn("cust_avg",
        sum(dec(col("o_totalprice"))).over(w).cast("double") / count(lit(1)).over(w))
      .filter(col("o_totalprice") > col("cust_avg"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("cust_avg"))
  }

  /** Q8-lite: each nation's share of yearly revenue (window-normalized). */
  def revenueShare(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val byYear = o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"), col("n_name"))
      .agg(sum(dec(col("o_totalprice"))).as("rev"))
    byYear
      .withColumn("share",
        col("rev").cast("double") / sum(col("rev")).over(Window.partitionBy(col("o_year"))).cast("double"))
      .select(col("o_year"), col("n_name"), col("rev").cast("double").as("revenue"), col("share"))
  }

  /** TPC-H Q8 full market-share: within the ASIA region's PROMO-part market,
    * NATION_2's share of yearly revenue. The genuine Q8 join graph — lineitem
    * against both the customer chain (restricted to the region) and the
    * supplier chain (tagging the competing nation) — unlike `revenueShare`'s
    * single-chain "lite" form. Scale: part/nation/region broadcast (part is
    * pre-filtered to one type), fact-fact joins shuffle on their keys, the
    * share is a per-year aggregate ratio — no window at all. */
  def marketShare(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part").filter(col("p_type") === "PROMO").select(col("p_partkey"))
    val o = t(s, dir, "orders").filter(
      col("o_orderdate") >= lit("1995-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz"))
    val c = t(s, dir, "customer")
    val su = t(s, dir, "supplier")
    val cn = t(s, dir, "nation").select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_region"))
    val sn = t(s, dir, "nation").select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val r = t(s, dir, "region").filter(col("r_name") === "ASIA").select(col("r_regionkey"))
    val one = lit(1).cast("decimal(12,2)")
    val vol = dec(col("l_extendedprice")) * (one - dec(col("l_discount")))
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(cn), c("c_nationkey") === cn("cn_key"))
      .join(broadcast(r), cn("cn_region") === r("r_regionkey"))
      .join(su, li("l_suppkey") === su("s_suppkey"))
      .join(broadcast(sn), su("s_nationkey") === sn("sn_key"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        dsum(when(col("supp_nation") === "NATION_2", vol).otherwise(lit(0).cast("decimal(12,2)")))
          .as("nation_revenue"),
        dsum(vol).as("total_revenue"))
      // floor(x*1e6+0.5), not round(): house rule for double-quotient rounding.
      .withColumn("mkt_share",
        floor(col("nation_revenue") / col("total_revenue") * 1e6 + 0.5) / 1e6)
  }

  /** As-of join, composed from built-ins (SURVEY preference order (a)):
    * for every purchase event, the most recent prior view by the same user.
    * Union-tag + running last_value over one (user, time) window — a single
    * shuffle on user_id, instead of a range join that would explode. */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("view_ts", when(col("event_type") === "view", col("ts")))
      .withColumn("prev_view_ts", last(col("view_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("prev_view_ts"))
  }

  /** Exact per-group quantiles (p25/p50/p75 of order totals per priority):
    * one sorted list per group, read three times by `percentileSorted`
    * (Spark `percentile`'s interpolation), instead of three `percentile`
    * count maps built and shuffled per group. */
  def percentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(sortedDoubles(col("o_totalprice")).as("v"), count(lit(1)).as("n"))
      .select(
        col("o_orderpriority"),
        round(percentileSorted(col("v"), 0.25), 6).as("p25"),
        round(percentileSorted(col("v"), 0.5), 6).as("p50"),
        round(percentileSorted(col("v"), 0.75), 6).as("p75"),
        col("n"))

  /** TPC-H Q9-shaped: profit by supplier nation and year for parts matching
    * a name pattern (retail price stands in for supply cost — the schema has
    * no partsupp table). */
  def productProfit(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part").filter(col("p_name").contains("widget"))
    val su = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    val one = lit(1).cast("decimal(12,2)")
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .join(su, li("l_suppkey") === su("s_suppkey"))
      .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"), year(col("l_shipdate")).as("l_year"))
      .agg(dsum(
        dec(col("l_extendedprice")) * (one - dec(col("l_discount"))) -
          dec(col("p_retailprice")) * dec(col("l_quantity"))).as("profit"))
  }

  /** Skew-defused aggregation: two-phase salted groupBy (SURVEY §5).
    * `event_type` has ~5 values — at 100 TB a plain groupBy sends each
    * key's entire volume to one reducer. Salting on a uniform column
    * splits each key 16 ways for the partial aggregate; the final
    * aggregate combines 16*|keys| tiny rows. Result is identical to the
    * plain groupBy (the oracle IS the plain groupBy). */
  def aggSalted(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"), pmod(col("event_id"), lit(16)).as("salt"))
      .agg(count(lit(1)).as("pc"), sum(dec(col("value"), 10, 2)).as("pv"))
      .groupBy("event_type")
      .agg(sum(col("pc")).as("n"), sum(col("pv")).cast("double").as("total_value"))

  /** Salt fan-out for the skew-defused join. */
  val JoinSalt = 8

  /** Census threshold for the targeted salting below: keys whose probe-side
    * row count exceeds this are "heavy". Production sizes it so the heavy
    * set is a handful of pathological keys (≫ a task's row budget, e.g.
    * 1e6) and therefore trivially broadcastable; the test corpus value sits
    * inside lineitem's 1..7 rows-per-order spread so BOTH paths (salted
    * heavy, plain rest) carry rows through the correctness gate. */
  val HeavyKeyRows = 6

  /** Skew-defused salted JOIN (the join-side complement of `aggSalted`'s
    * two-phase aggregation): when one join key dominates a fact-fact
    * shuffle join — a celebrity user, a default id — every row of that key
    * lands on ONE task. TARGETED salting: a broadcast census first detects
    * the heavy probe-side keys (count > HeavyKeyRows — map-side partial
    * agg, tiny survivor set); ONLY rows of those keys take the salted
    * path, where the probe side (lineitem) spreads each key over
    * `JoinSalt` sub-keys by a deterministic row-level hash and the build
    * side (orders) replicates its MATCHING rows JoinSalt times. Everything
    * else runs the plain join, and the two branches union before the final
    * aggregate — identical result (the oracle IS the plain join). Per-task
    * load for a heavy key is bounded by max-key-rows / JoinSalt, and the
    * build-side replication bill is |heavy keys| x JoinSalt rather than
    * |build| x JoinSalt (the round-5 full-replication layout — 8x the
    * build shuffle for skew that touches a handful of keys). AQE's skew
    * split handles moderate skew adaptively; explicit salting is the
    * insurance for the pathological key that exceeds a single task's
    * memory. Aggregated to priority level so the gate stays compact. */
  def joinSalted(s: SparkSession, dir: String): DataFrame = {
    val one = lit(1).cast("decimal(12,2)")
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val heavy = li.groupBy(col("l_orderkey")).agg(count(lit(1)).as("kn"))
      .filter(col("kn") > HeavyKeyRows)
      .select(col("l_orderkey").as("hk"))
    // Row-identity hash (orderkey:linenumber), not a single column: a salt
    // derived from one low-cardinality column would cap the fan-out at that
    // column's distinct count instead of JoinSalt.
    val liHeavy = li.join(broadcast(heavy), li("l_orderkey") === col("hk"), "left_semi")
      .withColumn("salt", pmod(hash52(concat(col("l_orderkey").cast("string"),
        lit(":"), col("l_linenumber").cast("string"))), lit(JoinSalt.toLong)))
    val oHeavy = o.join(broadcast(heavy), o("o_orderkey") === col("hk"), "left_semi")
      .withColumn("salt", explode(array((0 until JoinSalt).map(i => lit(i.toLong)): _*)))
    val liRest = li.join(broadcast(heavy), li("l_orderkey") === col("hk"), "left_anti")
    val oRest = o.join(broadcast(heavy), o("o_orderkey") === col("hk"), "left_anti")
    // A (lineitem, orders) pair routes to exactly one branch: both sides
    // share the key, so heavy-ness agrees on both.
    val joined = liHeavy
      .join(oHeavy, liHeavy("l_orderkey") === oHeavy("o_orderkey") &&
        liHeavy("salt") === oHeavy("salt"))
      .select(col("o_orderpriority"), col("l_extendedprice"), col("l_discount"))
      .unionAll(liRest
        .join(oRest, liRest("l_orderkey") === oRest("o_orderkey"))
        .select(col("o_orderpriority"), col("l_extendedprice"), col("l_discount")))
    joined.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        dsum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))).as("revenue"))
  }

  /** Tumbling 1h window aggregation — batch analog of the streaming path. */
  def eventWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(dec(col("value"), 10, 2)).as("total_value"))

  /** Cohort retention over the event stream: users grouped by first-seen
    * day, fraction still active N days later — the engagement query every
    * event warehouse runs. Two aggregations over distinct (user, day) pairs
    * (the fact table reduces to user-days first, so the heavy groupBys run
    * on the reduced relation); cohort sizes broadcast back. */
  def retentionCohort(s: SparkSession, dir: String): DataFrame = {
    val days = t(s, dir, "events")
      .select(col("user_id"), date_trunc("day", col("ts")).as("day")).distinct()
    val cohort = days.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    val cohortSize = cohort.groupBy("cohort_day").agg(count(lit(1)).as("n_cohort"))
    days.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_day"), datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(cohortSize), Seq("cohort_day"))
      .select(col("cohort_day"), col("day_offset"), col("n_active"), col("n_cohort"),
        (floor(col("n_active").cast("double") / col("n_cohort") * 1e6 + 0.5) / 1e6).as("retention"))
  }

  /** TPC-H Q10-shaped: top-20 customers by revenue lost to returns in a
    * 6-month window. Fact-fact join shuffles on orderkey; nation broadcasts;
    * top-20 is TakeOrderedAndProject. */
  def returnedItems(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1998-07-01").cast("timestamp_ntz"))
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val one = lit(1).cast("decimal(12,2)")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(dsum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** TPC-H Q13-shaped: distribution of orders-per-customer, including
    * zero-order customers. Orders are pre-aggregated to (custkey, count)
    * BEFORE the join — the map-side partial aggregate shrinks the shuffle
    * from every order row to one row per customer; the left join then only
    * fills in zero-order customers. */
  def custDist(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val perCust = t(s, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    c.join(perCust, c("c_custkey") === perCust("o_custkey"), "left_outer")
      .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
  }

  /** TPC-H Q14-shaped: monthly share of revenue from PROMO-type parts.
    * Part is a broadcast dim; the ratio is computed from exact DECIMAL sums
    * and rounded once. */
  def promoRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1999-01-01").cast("timestamp_ntz"))
    val p = t(s, dir, "part")
    val one = lit(1).cast("decimal(12,2)")
    val rev = dec(col("l_extendedprice")) * (one - dec(col("l_discount")))
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(month(col("l_shipdate")).as("l_month"))
      .agg(
        dsum(when(col("p_type") === "PROMO", rev).otherwise(lit(0).cast("decimal(12,2)")))
          .as("promo_revenue"),
        dsum(rev).as("total_revenue"))
      // floor(x*1e6+0.5), not round(): a double quotient can land on .5e-7
      // half-way points where engine round() implementations disagree (the
      // text_perplexity lesson); floor over identical IEEE doubles cannot.
      .select(col("l_month"), col("promo_revenue"), col("total_revenue"),
        (floor(col("promo_revenue") / col("total_revenue") * 1e6 + 0.5) / 1e6).as("promo_share"))
  }

  /** TPC-H Q18-shaped: large-volume orders (per-order quantity sum above a
    * threshold, joined back to customer). The orderkey aggregate and the
    * orders join share the same key, so the agg output joins without a
    * second exchange; AQE splits any skewed orderkey. */
  def largeOrders(s: SparkSession, dir: String): DataFrame = {
    val qty = t(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(sum(dec(col("l_quantity"))).as("qty_dec"))
      .filter(col("qty_dec") > 250)
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    o.join(qty, o("o_orderkey") === qty("l_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("qty_dec").cast("double").as("total_qty"))
  }

  /** TPC-H Q19-shaped: revenue under an OR-of-ANDs predicate over part
    * attributes and line quantities — the disjunctive-pushdown shape. Part
    * broadcasts; the residual filter runs map-side on the joined rows. */
  def discountRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    val one = lit(1).cast("decimal(12,2)")
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) && col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 20) && col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 25) && col("l_quantity").between(20, 30)))
      .agg(dsum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q15-shaped: the top supplier(s) by Q1-1998 revenue. The max is a
    * 1-row aggregate cross-joined back (no global single-partition window),
    * and the equality test runs on exact DECIMAL revenue so ties are exact. */
  def topSupplier(s: SparkSession, dir: String): DataFrame = {
    val one = lit(1).cast("decimal(12,2)")
    val rev = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1998-04-01").cast("timestamp_ntz"))
      .groupBy("l_suppkey")
      .agg(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount")))).as("rev_dec"))
    val maxRev = rev.agg(max(col("rev_dec")).as("max_rev"))
    val top = rev.crossJoin(broadcast(maxRev)).filter(col("rev_dec") === col("max_rev"))
    t(s, dir, "supplier")
      .join(broadcast(top), col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("rev_dec").cast("double").as("total_revenue"))
  }

  /** TPC-H Q22-shaped: well-funded customers gone idle — above-average
    * account balance and no order since 2000. The global average is a 1-row
    * broadcast; the idle check is a left-anti join (never distinct-then-
    * join); output groups by nation. */
  def idleCustomers(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val avgRow = c.filter(col("c_acctbal") > 0)
      .agg((sum(dec(col("c_acctbal"))).cast("double") / count(lit(1))).as("avg_bal"))
    // Distinct custkeys only: the anti join needs set membership, not rows —
    // the partial-distinct combine cuts the build-side shuffle to one row
    // per active customer.
    val recent = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp_ntz"))
      .select(col("o_custkey")).distinct()
    c.crossJoin(broadcast(avgRow))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === recent("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"), dsum(dec(col("c_acctbal"))).as("totacctbal"))
  }

  /** TPC-H Q17-shaped: revenue impact of small-quantity orders — lineitems
    * below 20% of their part's average quantity. The correlated avg is
    * decorrelated into a window over l_partkey (the aboveAvgOrders pattern):
    * ONE lineitem scan and ONE exchange, where the aggregate-join form read
    * the table twice and shuffled both sides (r17, guide §2.3/§2.4). The
    * per-part avg is the same exact-DECIMAL sum / count, so the filter sees
    * bit-identical doubles. */
  def smallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_partkey"))
    t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .withColumn("avg_qty",
        sum(dec(col("l_quantity"))).over(w).cast("double") / count(lit(1)).over(w))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((sum(dec(col("l_extendedprice"))).cast("double") / 7.0).as("avg_yearly"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q21-shaped: suppliers who kept a finished multi-supplier order
    * waiting — their line shipped > 60 days after the order date while
    * every co-supplier shipped on time. The EXISTS/NOT-EXISTS pair folds
    * into ONE per-order census (r17, guide §2.3/§2.4): per (order,
    * supplier) a late flag, then per order the supplier count, the late
    * count and the (then unique) late supplier — sk qualifies iff it is
    * the ONLY late supplier of a ≥2-supplier finished order, exactly the
    * semi/anti formulation over the same distinct pairs, at one lineitem
    * scan and no self-joins; top-20 deterministic. The co-supplier EXISTS
    * may range over all lineitem in the spec, but a late order IS a
    * finished order, so its lineitems survive the one F-filtered join. */
  def waitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
    val li = t(s, dir, "lineitem")
    val pairs = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .agg(max(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"), 1)
        .otherwise(0)).as("late"))
    val soleLate = pairs.groupBy("ok")
      .agg(count(lit(1)).as("n_supp"), sum(col("late")).as("n_late"),
        max(when(col("late") === 1, col("sk"))).as("late_sk"))
      .filter(col("n_late") === 1 && col("n_supp") >= 2)
    soleLate.join(t(s, dir, "supplier"), col("late_sk") === col("s_suppkey"))
      .groupBy("s_suppkey", "s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey").asc)
      .limit(20)
  }

  /** Exact equi-depth deciles of `l_extendedprice` WITHOUT a global sort —
    * the distributed-exact-quantile recipe (the two-level rank engine
    * Pipeline.shuffle/shard use, applied to a value domain):
    *
    *  1. value→count aggregation (map-side combine; state is
    *     distinct-value-sized, not row-sized),
    *  2. monotone blocks (`floor(v/1000)` — block id orders like the value),
    *     per-block subtotals, cumulative block offsets via a window over the
    *     BLOCK LIST (thousands of rows at 100 TB, never the data),
    *  3. within-block cumulative counts (window partitioned BY BLOCK — state
    *     bounded per block, no single-partition global window),
    *  4. the 10 target ranks ceil(q·N/10) broadcast against the cumulative
    *     relation: boundary_q is the unique value whose cumulative range
    *     [cum-cnt+1, cum] contains the target.
    *
    * Everything is integer arithmetic on counts (`(q*N+9) div 10` is exact
    * ceil), so the boundary set is bit-identical in any engine. This is the
    * histogram/percentile primitive a 100 TB profiler runs where a global
    * ORDER BY would be the bottleneck; approx_percentile trades exactness
    * for one pass, this keeps exactness at two small shuffles. */
  def equidepthHist(s: SparkSession, dir: String): DataFrame =
    equidepthOf(t(s, dir, "lineitem").select(col("l_extendedprice").as("v")))

  /** Target block count for the value-domain decomposition. ~4k blocks keep
    * the block histogram window trivially small while bounding each block to
    * ~N_distinct/4k values — and because the width comes from the observed
    * min/max, a skewed or continuous domain cannot collapse into one block
    * the way a fixed absolute width (the old `floor(v/1000)`) could. */
  val EquidepthBlocks = 4096

  /** The ascending cumulative value census of `vals` (one column `v`):
    * (v, cnt, cum) where `cum` is the count of rows with value <= v — the
    * distributed rank-selection primitive [[equidepthOf]] and the
    * calibrated quality gate both select order statistics from. Block id
    * comes from the DATA's own bounds (the zorderWrite gridScale recipe):
    * one min/max aggregate broadcasts a single row, and
    * blk = floor((v-min)/width) is monotone in v — all the two-level
    * decomposition needs. A one-value domain (min = max) degenerates to a
    * single block, which is then also the whole (single-row) census. */
  private[graft] def cumulativeCensus(vals: DataFrame): DataFrame =
    cumulativeCensusOfCounts(vals.groupBy(col("v")).agg(count(lit(1)).as("cnt")))

  /** [[cumulativeCensus]] over an already-aggregated (v, cnt) relation —
    * r16: the bounds aggregate runs over the value census, not the raw
    * rows (min/max over distinct values equal min/max over all rows), so
    * the raw input is scanned ONCE and the census's shuffle is REUSED by
    * the bounds subtree (ReusedExchange in the executed plan) instead of
    * three independent full scans (bounds, census, and the caller's N). */
  /** Fan-out of the exclusive-prefix offset hierarchy below: one DIV
    * level shrinks the census 4096x, so every caller's superblock census
    * is constant-bounded (see [[blockOffsets]]). */
  private[graft] val OffsetFan = 4096L

  /** EXCLUSIVE prefix offsets over a CONSTANT-BOUNDED (blk, cnt) block
    * census — (blk, off) with off = Σ cnt of all strictly-smaller blocks
    * — as a single triangular broadcast join: no window at all, so no
    * unpartitioned-window single task (r17, VERDICT r16 #8). ONLY for
    * censuses bounded by a code constant (≤ ~10⁴ rows — the
    * [[EquidepthBlocks]] = 4096 value census): the join compares
    * bound² / 2 pairs, trivial at 4096 but not at a corpus-growing census
    * (those go through [[blockOffsets]]). Exact long arithmetic — results
    * are bit-identical to a cumsum. */
  private[graft] def blockOffsetsSmall(census: DataFrame): DataFrame =
    census.as("a")
      .join(broadcast(census.select(col("blk").as("bblk"), col("cnt").as("bcnt"))),
        col("bblk") < col("blk"), "left")
      .groupBy(col("blk"))
      .agg(coalesce(sum(col("bcnt")), lit(0L)).as("off"))

  /** EXCLUSIVE prefix offsets over a (blk, cnt) block census whose block
    * ids are bounded by construction but too many for [[blockOffsetsSmall]]
    * — using NO unpartitioned window (r17, VERDICT r16 #8: the previous
    * Window.orderBy(blk) cumsum ran the whole census through ONE task;
    * bounded at test SFs, but e.g. the ShuffleBlock census is ≤ 2²⁴ rows
    * — all of them through one partition at 100 TB). Two levels:
    *  1. superblock (blk DIV 4096) subtotals; their exclusive prefix is a
    *     triangular broadcast join (bsblk < sblk) — the callers' block-id
    *     domains bound the superblock census at ≤ ~2·4096 rows
    *     (ShuffleBlock blocks: |h DIV 2⁴⁰| ≤ 2²³ → ≤ 2·2¹¹ superblocks;
    *     keyBlockPos: kblk ≤ |sources|·10⁶·maxr/10⁹ → ≤ ~10⁵ blocks → ≤
    *     ~25 superblocks), so the join is ≤ ~10⁷ long-compares, no window;
    *  2. block offsets: a window PARTITIONED by sblk (≤ 4096 blocks per
    *     partition by construction) plus the superblock base.
    * Truncating DIV is monotone, so superblock order refines block order
    * (negative hash-derived blocks included — the trunc-div superblock at
    * zero just spans up to 2·4096 blocks). Exact long arithmetic — results
    * are bit-identical to the single-window cumsum. */
  private[graft] def blockOffsets(census: DataFrame): DataFrame = {
    val c = census.withColumn("sblk", expr(s"blk DIV $OffsetFan"))
    val sc = c.groupBy("sblk").agg(sum(col("cnt")).as("scnt"))
    val sbase = sc.as("a")
      .join(broadcast(sc.select(col("sblk").as("bsblk"), col("scnt").as("bscnt"))),
        col("bsblk") < col("sblk"), "left")
      .groupBy(col("sblk"))
      .agg(coalesce(sum(col("bscnt")), lit(0L)).as("sbase"))
    val wB = Window.partitionBy(col("sblk")).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    c.join(broadcast(sbase), Seq("sblk"))
      .withColumn("off", col("sbase") + coalesce(sum(col("cnt")).over(wB), lit(0L)))
      .select(col("blk"), col("off"))
  }

  private[graft] def cumulativeCensusOfCounts(vcIn: DataFrame): DataFrame = {
    val bounds = vcIn.agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
    val vc = vcIn
      .crossJoin(broadcast(bounds))
      .withColumn("blk", when(col("vmax") > col("vmin"),
        floor((col("v").cast("double") - col("vmin").cast("double")) /
          ((col("vmax").cast("double") - col("vmin").cast("double")) / EquidepthBlocks)))
        .otherwise(lit(0)).cast("long"))
      .select(col("v"), col("cnt"), col("blk"))
    // r17 (VERDICT r16 #8): block offsets via the no-window triangular
    // join — the block census is ≤ EquidepthBlocks = 4096 rows by
    // construction, exactly blockOffsetsSmall's contract
    val offs = blockOffsetsSmall(vc.groupBy("blk").agg(sum(col("cnt")).as("cnt")))
    val wLoc = Window.partitionBy(col("blk")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vc.join(offs, Seq("blk"))
      .withColumn("cum", col("off") + sum(col("cnt")).over(wLoc))
      .select(col("v"), col("cnt"), col("cum"))
  }

  private[graft] def equidepthOf(vals: DataFrame): DataFrame = {
    // One value-census aggregation feeds the census, its bounds AND the
    // row count N (sum of census counts == count of raw rows): the raw
    // relation is scanned once and the shuffle is shared (ReusedExchange).
    val vcIn = vals.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    val cum = cumulativeCensusOfCounts(vcIn)
    val s = vals.sparkSession
    // coalesce keeps `n` non-nullable like the count() it replaces (the
    // column is part of the gated output schema); value is identical.
    val n = vcIn.agg(coalesce(sum(col("cnt")), lit(0L)).as("n"))
    val targets = s.range(1, 11).select(col("id").cast("int").as("decile"))
      .crossJoin(broadcast(n))
      .withColumn("target", expr("(decile * n + 9) DIV 10"))
    cum.join(broadcast(targets),
        col("cum") >= col("target") && (col("cum") - col("cnt")) < col("target"))
      .select(col("decile"), col("v").as("boundary"), col("target"), col("n"))
  }

  // --- wiring --------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pricing_summary" -> (pricingSummary _),
    "q_shipping_priority" -> (shippingPriority _),
    "q_local_supplier" -> (localSupplier _),
    "q_window_running" -> (windowRunning _),
    "q_rollup" -> (rollupAgg _),
    "q_cube" -> (cubeAgg _),
    "q_event_sessionize" -> (eventSessionize _),
    "q_agg_salted" -> (aggSalted _),
    "q_join_salted" -> (joinSalted _),
    "q_asof_join" -> (asofJoin _),
    "q_percentiles" -> (percentiles _),
    "q_product_profit" -> (productProfit _),
    "q_forecast_revenue" -> (forecastRevenue _),
    "q_late_priority" -> (latePriority _),
    "q_nation_volume" -> (nationVolume _),
    "q_above_avg_orders" -> (aboveAvgOrders _),
    "q_revenue_share" -> (revenueShare _),
    "q_market_share" -> (marketShare _),
    "q_event_window" -> (eventWindow _),
    "q_retention_cohort" -> (retentionCohort _),
    "q_returned_items" -> (returnedItems _),
    "q_custdist" -> (custDist _),
    "q_promo_revenue" -> (promoRevenue _),
    "q_large_orders" -> (largeOrders _),
    "q_discount_revenue" -> (discountRevenue _),
    "q_top_supplier" -> (topSupplier _),
    "q_idle_customers" -> (idleCustomers _),
    "q_small_qty_revenue" -> (smallQtyRevenue _),
    "q_waiting_suppliers" -> (waitingSuppliers _),
    "q_equidepth_hist" -> (equidepthHist _))

  def oracles: Map[String, String] = Map(
    "q_equidepth_hist" ->
      // Same rule spelled directly: cumulative counts over the value domain,
      // boundary_q = the value whose cumulative range contains ceil(q*N/10).
      ("WITH vc AS (SELECT l_extendedprice AS v, count(*) AS cnt FROM lineitem GROUP BY 1), " +
        "c AS (SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cum FROM vc), " +
        "nn AS (SELECT count(*) AS n FROM lineitem), " +
        "t AS (SELECT CAST(g.q AS INT) AS decile, (g.q * nn.n + 9) // 10 AS target, nn.n AS n " +
        "FROM generate_series(1, 10) g(q) CROSS JOIN nn) " +
        "SELECT t.decile, c.v AS boundary, t.target, t.n FROM t " +
        "JOIN c ON c.cum >= t.target AND c.cum - c.cnt < t.target"),
    "q_pricing_summary" ->
      // Each exact decimal sum goes to DOUBLE through its decimal text:
      // DuckDB's DECIMAL -> DOUBLE cast divides a double by 10^scale and so
      // rounds twice once a sum passes 2^53 units; the text cast rounds
      // once, correctly, as Spark's does.
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(CAST(sum(qty) AS VARCHAR) AS DOUBLE) AS sum_qty, " +
        "CAST(CAST(sum(price) AS VARCHAR) AS DOUBLE) AS sum_base_price, " +
        "CAST(CAST(sum(price * (1 - disc)) AS VARCHAR) AS DOUBLE) AS sum_disc_price, " +
        "CAST(CAST(sum(price * (1 - disc) * (1 + tax)) AS VARCHAR) AS DOUBLE) AS sum_charge, " +
        "CAST(CAST(sum(qty) AS VARCHAR) AS DOUBLE) / count(*) AS avg_qty, " +
        "CAST(CAST(sum(price) AS VARCHAR) AS DOUBLE) / count(*) AS avg_price, " +
        "count(*) AS count_order " +
        "FROM (SELECT l_returnflag, l_linestatus, CAST(l_quantity AS DECIMAL(12,2)) AS qty, CAST(l_extendedprice AS DECIMAL(12,2)) AS price, CAST(l_discount AS DECIMAL(12,2)) AS disc, CAST(l_tax AS DECIMAL(12,2)) AS tax FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00') " +
        "GROUP BY l_returnflag, l_linestatus"),
    "q_shipping_priority" ->
      ("SELECT l_orderkey, CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue, o_orderdate, o_orderpriority " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00' AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00' " +
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority " +
        "ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"),
    "q_local_supplier" ->
      ("SELECT n_name, CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN customer ON o_custkey = c_custkey AND s_nationkey = c_nationkey " +
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' GROUP BY n_name"),
    "q_window_running" ->
      ("SELECT user_id, event_id, CAST(row_number() OVER w AS INT) AS rn, " +
        "CAST(sum(CAST(value AS DECIMAL(10,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"),
    "q_rollup" ->
      ("SELECT n_name, o_orderstatus, count(*) AS cnt, CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price " +
        "FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY ROLLUP (n_name, o_orderstatus)"),
    "q_cube" ->
      ("SELECT n_name, o_orderstatus, count(*) AS cnt, CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price " +
        "FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY CUBE (n_name, o_orderstatus)"),
    "q_event_sessionize" ->
      ("WITH flagged AS (SELECT user_id, ts, event_id, value, CASE WHEN lag(epoch_us(ts)) OVER w IS NULL OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 21600000000 THEN 1 ELSE 0 END AS new_s " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "sessions AS (SELECT user_id, ts, value, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM flagged) " +
        "SELECT user_id, session_id, count(*) AS n_events, min(ts) AS start_ts, max(ts) AS end_ts, CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value " +
        "FROM sessions GROUP BY user_id, session_id"),
    "q_agg_salted" ->
      "SELECT event_type, count(*) AS n, CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value FROM events GROUP BY event_type",
    "q_join_salted" ->
      // The oracle is the PLAIN join — salting must be invisible in the result.
      ("SELECT o_orderpriority, count(*) AS n_items, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderpriority"),
    "q_asof_join" ->
      ("SELECT event_id, user_id, ts, prev_view_ts FROM " +
        "(SELECT event_id, user_id, ts, event_type, " +
        "last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_view_ts " +
        "FROM events) WHERE event_type = 'purchase'"),
    "q_percentiles" ->
      ("SELECT o_orderpriority, round(quantile_cont(o_totalprice, 0.25), 6) AS p25, " +
        "round(quantile_cont(o_totalprice, 0.5), 6) AS p50, round(quantile_cont(o_totalprice, 0.75), 6) AS p75, " +
        "count(*) AS n FROM orders GROUP BY o_orderpriority"),
    "q_product_profit" ->
      ("SELECT n_name, CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) - " +
        "CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS profit " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey WHERE p_name LIKE '%widget%' " +
        "GROUP BY n_name, EXTRACT(year FROM l_shipdate)"),
    "q_forecast_revenue" ->
      ("SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue, count(*) AS n_items " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00' " +
        "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"),
    "q_late_priority" ->
      ("SELECT o_orderpriority, count(*) AS order_count FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00' AND EXISTS " +
        "(SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 90 DAY) " +
        "GROUP BY o_orderpriority"),
    "q_nation_volume" ->
      ("SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation, CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey JOIN nation cn ON c_nationkey = cn.n_nationkey " +
        "JOIN nation sn ON s_nationkey = sn.n_nationkey WHERE cn.n_name <> sn.n_name " +
        "GROUP BY cn.n_name, sn.n_name, EXTRACT(year FROM l_shipdate)"),
    "q_above_avg_orders" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice, cust_avg FROM " +
        "(SELECT o_orderkey, o_custkey, o_totalprice, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) / count(*) OVER w AS cust_avg " +
        "FROM orders WINDOW w AS (PARTITION BY o_custkey)) WHERE o_totalprice > cust_avg"),
    "q_revenue_share" ->
      ("WITH by_year AS (SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year, n_name, " +
        "sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY EXTRACT(year FROM o_orderdate), n_name) " +
        "SELECT o_year, n_name, CAST(rev AS DOUBLE) AS revenue, " +
        "CAST(rev AS DOUBLE) / CAST(sum(rev) OVER (PARTITION BY o_year) AS DOUBLE) AS share FROM by_year"),
    "q_market_share" ->
      ("SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year, " +
        "CAST(sum(CASE WHEN n2.n_name = 'NATION_2' THEN vol ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS nation_revenue, " +
        "CAST(sum(vol) AS DOUBLE) AS total_revenue, " +
        "floor(CAST(sum(CASE WHEN n2.n_name = 'NATION_2' THEN vol ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) / " +
        "CAST(sum(vol) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS mkt_share " +
        "FROM (SELECT l_partkey, l_orderkey, l_suppkey, " +
        "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS vol FROM lineitem) li " +
        "JOIN part ON l_partkey = p_partkey JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey JOIN nation n1 ON c_nationkey = n1.n_nationkey " +
        "JOIN region ON n1.n_regionkey = r_regionkey JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation n2 ON s_nationkey = n2.n_nationkey " +
        "WHERE p_type = 'PROMO' AND r_name = 'ASIA' " +
        "AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "GROUP BY EXTRACT(year FROM o_orderdate)"),
    "q_event_window" ->
      "SELECT date_trunc('hour', ts) AS win, event_type, count(*) AS n, CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value FROM events GROUP BY date_trunc('hour', ts), event_type",
    "q_retention_cohort" ->
      ("WITH days AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events), " +
        "cohort AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id), " +
        "cs AS (SELECT cohort_day, count(*) AS n_cohort FROM cohort GROUP BY cohort_day), " +
        "act AS (SELECT c.cohort_day, date_diff('day', c.cohort_day, d.day) AS day_offset, count(*) AS n_active " +
        "FROM days d JOIN cohort c ON d.user_id = c.user_id GROUP BY 1, 2) " +
        "SELECT a.cohort_day, CAST(day_offset AS INT) AS day_offset, n_active, n_cohort, " +
        "floor(CAST(n_active AS DOUBLE) / n_cohort * 1000000 + 0.5) / 1000000 AS retention " +
        "FROM act a JOIN cs ON a.cohort_day = cs.cohort_day"),
    "q_returned_items" ->
      ("SELECT c_custkey, c_name, c_acctbal, n_name, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00' " +
        "GROUP BY c_custkey, c_name, c_acctbal, n_name ORDER BY revenue DESC, c_custkey ASC LIMIT 20"),
    "q_custdist" ->
      ("SELECT c_count, count(*) AS custdist FROM " +
        "(SELECT c_custkey, count(o_orderkey) AS c_count FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey) " +
        "GROUP BY c_count"),
    "q_promo_revenue" ->
      ("SELECT CAST(month(l_shipdate) AS INT) AS l_month, " +
        "CAST(sum(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS promo_revenue, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS total_revenue, " +
        "floor(CAST(sum(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) / " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS promo_share " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00' " +
        "GROUP BY month(l_shipdate)"),
    "q_large_orders" ->
      ("SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, CAST(qty_dec AS DOUBLE) AS total_qty " +
        "FROM (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty_dec FROM lineitem GROUP BY l_orderkey) " +
        "JOIN orders ON o_orderkey = l_orderkey JOIN customer ON o_custkey = c_custkey WHERE qty_dec > 250"),
    "q_discount_revenue" ->
      ("SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue, count(*) AS n_items " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey WHERE " +
        "(p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11) OR " +
        "(p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20) OR " +
        "(p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 20 AND 30)"),
    "q_top_supplier" ->
      ("WITH rev AS (SELECT l_suppkey, sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS rev_dec " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1998-04-01 00:00:00' GROUP BY l_suppkey), " +
        "m AS (SELECT max(rev_dec) AS max_rev FROM rev) " +
        "SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue " +
        "FROM rev CROSS JOIN m JOIN supplier ON s_suppkey = l_suppkey WHERE rev_dec = max_rev"),
    "q_idle_customers" ->
      ("WITH a AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_bal FROM customer WHERE c_acctbal > 0) " +
        "SELECT c_nationkey, count(*) AS numcust, CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal " +
        "FROM customer CROSS JOIN a WHERE c_acctbal > avg_bal AND NOT EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00') " +
        "GROUP BY c_nationkey"),
    "q_small_qty_revenue" ->
      ("WITH pa AS (SELECT l_partkey, CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty " +
        "FROM lineitem GROUP BY l_partkey) " +
        "SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly, count(*) AS n_items " +
        "FROM lineitem JOIN pa USING (l_partkey) WHERE l_quantity < 0.2 * avg_qty"),
    "q_waiting_suppliers" ->
      ("WITH late AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_orderstatus = 'F' AND l_shipdate > o_orderdate + INTERVAL 60 DAY) " +
        "SELECT s_suppkey, s_name, numwait FROM " +
        "(SELECT sk, count(*) AS numwait FROM late l1 WHERE EXISTS " +
        "(SELECT 1 FROM lineitem WHERE l_orderkey = l1.ok AND l_suppkey <> l1.sk) " +
        "AND NOT EXISTS (SELECT 1 FROM late l2 WHERE l2.ok = l1.ok AND l2.sk <> l1.sk) " +
        "GROUP BY sk) JOIN supplier ON sk = s_suppkey " +
        "ORDER BY numwait DESC, s_suppkey ASC LIMIT 20"))
}
