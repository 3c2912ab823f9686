package graft.gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Ivf, Sim, Text}
import graft.operators.{AsOfJoin, Dedup, Sessionize}
import graft.ops.{Dims, Quality}
import graft.sources.Tables

/** Core relational gates (SURVEY.md §2 q-family): scan/project/filter,
  * joins, aggregation, rollup/cube/grouping sets, windows, set ops,
  * subqueries, percentiles.
  *
  * Split out of SparkEntry (one gate map per operator family); the
  * driver contract is still the combined SparkEntry.queries /
  * SparkEntry.oracleSql. Helpers and shared oracle CTEs live in
  * [[GateSupport]].
  */
private[graft] object CoreGates {
  import GateSupport._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q1 [S13,P1,W1] scan + project + sort
    "q01_scan_sort" -> ((s, d) =>
      t(s, d, "region")
        .select(col("r_regionkey"), col("r_name"))
        .orderBy(asc_nulls_first("r_regionkey"))),

    // Q2 [P3,P5] sentinel→NULL (ref pattern export_svg.py:212)
    "q02_sentinel_null" -> ((s, d) =>
      t(s, d, "customer")
        .select(
          col("c_custkey"),
          Quality.sentinelNull(col("c_mktsegment"), Seq("AUTOMOBILE")).as("seg"))
        .orderBy(asc_nulls_first("c_custkey"))),

    // Q3 [P4,F5] sentinel→NULL + cast (ref pattern export_svg.py:211)
    "q03_sentinel_cast" -> ((s, d) =>
      t(s, d, "orders")
        .select(
          col("o_orderkey"),
          Quality.sentinelNull(col("o_orderstatus"), Seq("P")).as("st"),
          (col("o_orderkey").cast(LongType) * 2).as("k2"))
        .orderBy(asc_nulls_first("o_orderkey"))),

    // Q4 [A1,D*,P6,W1] distinct + CASE-decode dim build (export_svg.py:275-293)
    "q04_dim_decode" -> ((s, d) =>
      Dims.buildDims(t(s, d, "nation"), Seq(("n_regionkey", "region_name",
        Seq(0 -> "AFRICA", 1 -> "AMERICA", 2 -> "ASIA", 3 -> "EUROPE",
            4 -> "MIDDLE EAST")))).head),

    // Q5 [J1,J2] equi joins through the star; dims broadcast
    "q05_join_star" -> ((s, d) => {
      val c = t(s, d, "customer")
      val n = t(s, d, "nation")
      val r = t(s, d, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("r_name"))
    }),

    // Q6 [J3] left outer + null probe. Scale-aware shape: pre-aggregate
    // the big side down to |nations| rows, then broadcast that to the
    // small side — avoids shuffling `customer` for an outer join.
    "q06_left_join" -> ((s, d) => {
      val n = t(s, d, "nation")
      val perNation = t(s, d, "customer")
        .groupBy(col("c_nationkey"))
        .agg(count(col("c_custkey")).as("cnt"))
      n.join(broadcast(perNation), n("n_nationkey") === perNation("c_nationkey"), "left")
        .groupBy(col("n_name"))
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_cust"))
        .orderBy(asc_nulls_first("n_name"))
    }),

    // Q7a [J4] left semi (EXISTS)
    "q07a_semi" -> ((s, d) => {
      val sup = t(s, d, "supplier")
      val li = t(s, d, "lineitem")
      sup.join(li, sup("s_suppkey") === li("l_suppkey"), "left_semi")
        .select(col("s_suppkey"))
        .orderBy(asc_nulls_first("s_suppkey"))
    }),

    // Q7b [J4] left anti (NOT EXISTS)
    "q07b_anti" -> ((s, d) => {
      val p = t(s, d, "part")
      val li = t(s, d, "lineitem")
      p.join(li, p("p_partkey") === li("l_partkey"), "left_anti")
        .select(col("p_partkey"))
        .orderBy(asc_nulls_first("p_partkey"))
    }),

    // Q8 [A2,F10] TPC-H Q1-style grouped aggregate
    "q08_group_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg(col("l_quantity")), 2).as("avg_qty"),
          count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // Q9 [A3] exact count distinct
    "q09_count_distinct" -> ((s, d) =>
      t(s, d, "orders").agg(count_distinct(col("o_custkey")).as("n"))),

    // Q9b [A3] approx count distinct (HLL++), error-bound gated: the
    // estimate itself is engine-specific, but |approx − exact| ≤
    // 3·rsd·exact is the design guarantee — emitted as a boolean the
    // DuckDB oracle pins TRUE next to the exact count it recomputes.
    "q09b_approx_distinct" -> ((s, d) =>
      t(s, d, "orders")
        .agg(count_distinct(col("o_custkey")).cast(LongType).as("n_exact"),
          approx_count_distinct(col("o_custkey"), 0.05).as("approx"))
        .select(col("n_exact"),
          (abs(col("approx") - col("n_exact")) <=
            lit(3 * 0.05) * col("n_exact")).as("within_bound"))),

    // Q10 [A4] rollup
    "q10_rollup" -> ((s, d) =>
      t(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))),

    // Q10b [A4] cube
    "q10b_cube" -> ((s, d) =>
      t(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))),

    // Q10c [A5] filtered/conditional aggregate (CASE-inside-agg idiom)
    "q10c_cond_agg" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
          count(when(col("o_totalprice") > 150000d, lit(1))).as("n_big"))
        .orderBy(asc_nulls_first("o_orderpriority"))),

    // Q11 [W2] ranking window, top-3 per nation
    "q11_rank_window" -> ((s, d) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      t(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          row_number().over(w).cast(LongType).as("rnk"))
        .where(col("rnk") <= 3)
        .orderBy(asc_nulls_first("c_nationkey"), asc_nulls_first("rnk"))
    }),

    // Q12 [W4] running-sum frame
    "q12_running_sum" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(w), 2).as("run"))
        .orderBy(asc_nulls_first("o_custkey"), asc_nulls_first("o_orderkey"))
    }),

    // Q12b [W3] lag/lead analytics
    "q12b_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"))
        .orderBy(asc_nulls_first("o_custkey"), asc_nulls_first("o_orderkey"))
    }),

    // Q13 [W5] top-k with unique tie-break (TakeOrderedAndProject)
    "q13_topk" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)),

    // Q14a [W6] intersect
    "q14a_intersect" -> ((s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("k"))
        .intersect(t(s, d, "supplier").select(col("s_nationkey").as("k")))
        .orderBy(asc_nulls_first("k"))),

    // Q14b [W6] except
    "q14b_except" -> ((s, d) =>
      t(s, d, "nation").select(col("n_nationkey").as("k"))
        .except(t(s, d, "customer").select(col("c_nationkey").as("k")))
        .orderBy(asc_nulls_first("k"))),

    // Q14c [W6] union distinct
    "q14c_union" -> ((s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("k"))
        .union(t(s, d, "supplier").select(col("s_nationkey").as("k")))
        .distinct()
        .orderBy(asc_nulls_first("k"))),

    // Q18 [ST2-batch] tumbling-window batch analogue over events
    "q18_hourly_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(date_trunc("HOUR", col("ts")).as("h"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
        .orderBy(asc_nulls_first("h"), asc_nulls_first("event_type"))),

    // Q19 [P1-P6 composite] quality-zone replica over events
    // (mirrors export_svg.py:209-246 semantics on fixture data).
    // The half-up cent rounding is spelled out as floor(v*100+0.5)/100
    // so both engines compute the identical double. The gate emits the
    // cents as DOUBLE: values were proven equal under DECIMAL(18,2) on
    // both sides (round-2 adjudication), but the two engines' decimal
    // wire types canonicalize differently in the driver hash, so the
    // decimal-cast coverage lives in FjcPipelineSpec / tools/check.py
    // and the gate column stays in a type both engines render alike.
    "q19_quality_zone" -> ((s, d) =>
      t(s, d, "events")
        .select(
          col("event_id"),
          Quality.sentinelNull(col("event_type"), Seq("error")).as("etype"),
          when(col("value") < 0, lit(null))
            .otherwise(round(floor(col("value") * 100 + lit(0.5)) / 100, 2))
            .as("val"))
        .orderBy(asc_nulls_first("event_id"))),

    // Q23 [J5,J6] range join: lineitems shipped within 30 days of
    // order. Equi-anchored on the order key with the range conditions
    // as join residuals (never a BNLJ); fact-fact, so no broadcast.
    "q23_range_join" -> ((s, d) => {
      val o = t(s, d, "orders").hint("shuffle_hash")
      val li = t(s, d, "lineitem")
      li.join(o, li("l_orderkey") === o("o_orderkey") &&
          li("l_shipdate") >= o("o_orderdate") &&
          li("l_shipdate") < o("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy(o("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("o_orderpriority"))
    }),

    // Q24 [J8] cross join (tiny × tiny)
    "q24_cross_join" -> ((s, d) =>
      t(s, d, "region").select(col("r_regionkey"))
        .crossJoin(t(s, d, "nation").select(col("n_nationkey")))
        .groupBy(col("r_regionkey"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("r_regionkey"))),

    // Q28 [A2+] exact interpolated percentiles + width_bucket histogram.
    // Sort-based (operators/Percentiles) rather than the builtin
    // `percentile` aggregate, whose buffer holds the group's whole
    // distinct-value map; o_totalprice is never NULL, so n_vals ≡
    // COUNT(*) and the oracle is unchanged.
    "q28_percentiles" -> ((s, d) =>
      graft.operators.Percentiles.exact(
        t(s, d, "orders"), "o_orderpriority", "o_totalprice",
        Seq("p50r" -> 0.5, "p90r" -> 0.9))
        .select(col("o_orderpriority"),
          round(col("p50r"), 2).as("p50"),
          round(col("p90r"), 2).as("p90"),
          col("n_vals").as("n"))
        .orderBy(asc_nulls_first("o_orderpriority"))),

    // Q25 [EP3] ad-hoc SQL surface with a correlated + scalar subquery
    // (Catalyst decorrelates EXISTS → semi join, scalar → cross agg).
    // SHUFFLE_HASH on the decorrelated semi join: unhinted, AQE
    // broadcasts LINEITEM — the fact side, a plan that dies at scale —
    // and measures 1.0 s; the hash-shuffled semi is 0.56 s at sf0.1
    // (best-of-3) and shuffles only 8-byte keys at any
    // scale.
    "q25_sql_subquery" -> ((s, d) => {
      Tables.registerViews(s, d)
      s.sql(
        """SELECT o_orderkey, ROUND(o_totalprice, 2) AS p
           FROM orders o
           WHERE o_totalprice > (SELECT AVG(o_totalprice) * 1.8 FROM orders)
             AND EXISTS (SELECT /*+ SHUFFLE_HASH(l) */ 1
                         FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
           ORDER BY o_orderkey NULLS FIRST""")
    }),

    // Q26 [A4] grouping sets (finer than rollup/cube)
    "q26_grouping_sets" -> ((s, d) => {
      Tables.registerViews(s, d)
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
           FROM orders
           GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
           ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")
    }),

    // Q27 [J3] full outer join with null probes on both sides
    "q27_full_outer" -> ((s, d) => {
      val n = t(s, d, "nation").select(col("n_nationkey").as("k"), col("n_name"))
      val agg = t(s, d, "supplier")
        .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
      n.join(agg, n("k") === agg("s_nationkey"), "full_outer")
        .select(
          coalesce(col("k"), col("s_nationkey")).as("k"),
          col("n_name"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy(asc_nulls_first("k"))
    }),

    // X76 one-pass table profiling (the per-ingest data-quality
    // monitor: row/null/distinct counts + typed extrema per column,
    // all as ONE aggregation over ONE scan). A derived column with
    // arithmetic NULLs makes the null counts non-vacuous; exact
    // distinct counts so the oracle can replay value-for-value (the
    // at-scale default is HLL++, spec'd separately).
    "x76_profile" -> ((s, d) => {
      val v = t(s, d, "customer").select(
        col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"),
        when(col("c_nationkey") % 7 === 0, lit(null).cast(StringType))
          .otherwise(col("c_mktsegment")).as("seg"))
      graft.operators.Profile.profile(v, exact = true)
    }),

    // X85 funnel conversion (view → click → purchase within 7 days):
    // the event-sequence analytics shape. Earliest-first greedy per
    // user — t1 = first view, t2 = first click strictly after t1,
    // t3 = first purchase strictly after t2, all within t1+7d — so
    // the oracle can replay step-by-step with three MIN-joins. ONE
    // shuffle by user; events filtered to the step types BEFORE the
    // exchange; the fold runs as codegen'd array HOFs.
    "x85_funnel" -> ((s, d) =>
      graft.operators.Funnel.funnel(t(s, d, "events"),
          Seq("view", "click", "purchase"), windowSeconds = Some(7L * 86400))
        .orderBy(asc_nulls_first("step"))),

    // X86 weekly retention cohorts: users cohorted by ISO week of
    // first event; users(cohort, week_no) = distinct users of that
    // cohort active week_no weeks later. Two user-keyed aggregations
    // + one join that reuses their partitioning.
    "x86_retention" -> ((s, d) =>
      graft.operators.Funnel.retention(t(s, d, "events"))
        .orderBy(asc_nulls_first("cohort_week"), asc_nulls_first("week_no"))),

    // X91 conversion-lag percentiles: time-to-convert distributions
    // between adjacent funnel steps (the product-analytics companion
    // of x85) — per step pair, exact p50/p90 of the converting users'
    // lag in seconds, through the sort-based Percentiles operator (no
    // unbounded agg buffer). The oracle replays the same greedy chain
    // + quantile_cont.
    "x91_conversion_lag" -> ((s, d) => {
      val stp = graft.operators.Funnel.stepTimes(t(s, d, "events"),
        Seq("view", "click", "purchase"), windowSeconds = Some(7L * 86400))
      val lags = Seq(1 -> "view->click", 2 -> "click->purchase").map {
        case (i, nm) =>
          stp.where(col(s"t${i + 1}").isNotNull)
            .select(lit(nm).as("step_pair"),
              ((col(s"t${i + 1}") - col(s"t$i")) / 1000000.0).as("lag_s"))
      }.reduce(_ unionAll _)
      graft.operators.Percentiles.exact(lags, "step_pair", "lag_s",
          Seq("p50r" -> 0.5, "p90r" -> 0.9))
        .select(col("step_pair"), round(col("p50r"), 2).as("p50"),
          round(col("p90r"), 2).as("p90"), col("n_vals").as("n"))
        .orderBy(asc_nulls_first("step_pair"))
    }),

    // X92 last-touch attribution: each purchase credited to the
    // user's latest preceding click/view within 7 days (channel =
    // event type) — a backward as-of join (x11 shape) + a
    // channels-sized rollup. Touches pre-collapsed per (user, ts) by
    // MAX channel so ties are engine-replayable; purchases with no
    // in-window touch roll up under channel NULL (unattributed
    // revenue stays visible).
    "x92_attribution" -> ((s, d) => {
      val ev = t(s, d, "events")
      graft.operators.Attribution.lastTouch(
          ev.where(col("event_type") === "purchase")
            .select(col("user_id"), col("ts"), col("value")),
          ev.where(col("event_type").isin("click", "view"))
            .select(col("user_id"), col("ts"),
              col("event_type").as("channel")),
          lookback = "7 days")
        .select(col("channel"), col("n_conversions"),
          round(col("revenue"), 2).as("revenue"))
        .orderBy(asc_nulls_first("channel"))
    }),

    // X94 k-anonymity audit (Sweeney 2002): quasi-identifier cohorts
    // smaller than k — the privacy check before any data release,
    // pairing with the x31 PII scrub and the x93 erasure. One
    // map-side-combined groupBy; output bounded by violating cohorts.
    "x94_k_anonymity" -> ((s, d) =>
      graft.operators.Privacy.kAnonymityViolations(
          t(s, d, "customer"), Seq("c_nationkey", "c_mktsegment"), k = 10)
        .select(col("c_nationkey"), col("c_mktsegment"),
          col("n").cast(LongType).as("n"))
        .orderBy(asc_nulls_first("c_nationkey"),
          asc_nulls_first("c_mktsegment"))),

    // X110 l-diversity audit (Machanavajjhala 2007) — k-anonymity's
    // companion (x94): a big-enough cohort still leaks if everyone in
    // it shares the sensitive value. Sensitive attribute = the
    // account-balance band floor(acctbal/1000); cohorts =
    // (nation, segment); l = 4. Two stacked partial-aggregating
    // groupBys — no distinct-agg buffer ever crosses the shuffle.
    "x110_l_diversity" -> ((s, d) =>
      graft.operators.Privacy.lDiversity(
          t(s, d, "customer")
            .withColumn("bal_band", floor(col("c_acctbal") / 1000)),
          Seq("c_nationkey", "c_mktsegment"), "bal_band", l = 4)
        .orderBy(asc_nulls_first("c_nationkey"),
          asc_nulls_first("c_mktsegment"))),

    // X109 gaps-and-islands interval merge: per supplier, coalesce
    // the shipment-coverage intervals [shipdate, shipdate+linenumber
    // days] into maximal islands (running-max window, NOT lag(end) —
    // contained intervals would break lag) and report island count /
    // covered days / span. One shuffle on the key, two window passes
    // over the same partitioning, one partial-agg collapse; the
    // oracle replays the identical island construction.
    "x109_interval_merge" -> ((s, d) =>
      graft.operators.Intervals.coverageByKey(
          t(s, d, "lineitem")
            .withColumn("cov_start", to_date(col("l_shipdate")))
            .withColumn("cov_end",
              date_add(to_date(col("l_shipdate")), col("l_linenumber"))),
          "l_suppkey", "cov_start", "cov_end",
          tieCols = Seq("l_orderkey", "l_linenumber"))
        .select(col("l_suppkey").cast(LongType).as("l_suppkey"),
          col("n_islands"), col("covered_days"),
          col("first_day"), col("last_day"))
        .orderBy(col("l_suppkey"))),

    // X111 robust outlier detection: per returnflag, median/MAD
    // z-scores over extendedprice at k=3 "sigmas" (Hampel). Medians
    // are DISCRETE (value at rank ⌈n/2⌉) so both engines select the
    // same doubles bit-for-bit — interpolation formulas differ in
    // the last ulp across engines, rank selection cannot. The 3
    // groups are huge: the exact side runs through the two-level
    // global range-rank, never a per-group single-task sort.
    "x111_mad_outliers" -> ((s, d) =>
      graft.operators.Outliers.madOutliers(
          t(s, d, "lineitem"), "l_returnflag", "l_extendedprice", k = 3.0)
        .select(col("l_returnflag"), col("n_vals"),
          round(col("med"), 2).as("med"), round(col("mad"), 2).as("mad"),
          col("n_outliers"))
        .orderBy(asc_nulls_first("l_returnflag"))),

    // X113 exact global NTILE / equi-depth binning: 10 equal-
    // frequency buckets over extendedprice with SQL NTILE semantics
    // (first n mod k buckets one row larger). The naive
    // `ntile(10) OVER (ORDER BY …)` collapses the table into ONE
    // task; this runs as distributed range-rank + bucket arithmetic
    // + a 1-row count broadcast, and must reproduce DuckDB's own
    // ntile() bucket-for-bucket over the identical total order.
    "x113_ntile" -> ((s, d) =>
      graft.operators.Ranks.ntileExact(
          t(s, d, "lineitem")
            .select(col("l_extendedprice"), col("l_orderkey"),
              col("l_linenumber")),
          k = 10,
          order = Seq(col("l_extendedprice"), col("l_orderkey"),
            col("l_linenumber")))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          round(min(col("l_extendedprice")), 2).as("min_v"),
          round(max(col("l_extendedprice")), 2).as("max_v"))
        .orderBy(col("bin"))),

    // X115 per-GROUP exact NTILE — grouped equi-depth binning (the
    // per-segment feature-transform shape): ntile(4) within each
    // returnflag over the same total order, WITHOUT the per-group
    // single-task sort (3 huge groups = 3 tasks in the window form).
    // In-group ranks from ONE global range-rank minus group offsets,
    // bucket-for-bucket vs DuckDB's partitioned ntile().
    "x115_ntile_by_group" -> ((s, d) =>
      graft.operators.Ranks.ntileExactBy(
          t(s, d, "lineitem")
            .select(col("l_returnflag"), col("l_extendedprice"),
              col("l_orderkey"), col("l_linenumber")),
          k = 4, groupCol = "l_returnflag",
          order = Seq(col("l_extendedprice"), col("l_orderkey"),
            col("l_linenumber")))
        .groupBy(col("l_returnflag"), col("bin"))
        .agg(count(lit(1)).as("n"),
          round(min(col("l_extendedprice")), 2).as("min_v"),
          round(max(col("l_extendedprice")), 2).as("max_v"))
        .orderBy(asc_nulls_first("l_returnflag"), col("bin"))),

    // X116 join-explosion diagnostics: the pre-flight report before a
    // big equi join — exact would-be output size Σ cnt_l(k)·cnt_r(k),
    // matched-key count, worst key product, NULL-key drop counts, and
    // the top-5 skew offenders, all from two keys-sized aggregates
    // (the join itself never runs). Views × clicks per user — the
    // diagnostic for x47's interval join.
    "x116_join_explosion" -> ((s, d) => {
      val e = t(s, d, "events")
      val views = e.where(col("event_type") === "view")
      val clicks = e.where(col("event_type") === "click")
      val jd = graft.operators.JoinDiag
      jd.explosionTopKeys(views, "user_id", clicks, "user_id", topK = 5)
        .crossJoin(jd.explosionTotals(views, "user_id", clicks, "user_id"))
        .select(col("key").cast(LongType).as("key"),
          col("n_left"), col("n_right"), col("est_rows"),
          col("est_join_rows"), col("n_matched_keys"),
          col("max_key_product"), col("null_key_rows_left"),
          col("null_key_rows_right"))
        .orderBy(col("est_rows").desc, col("key"))
    }),

    // X117 deterministic experiment readout: md5-hash 50/50 variant
    // assignment over users (a unit's arm never changes as others
    // enroll — rand() assignment can never give that), per-arm
    // conversion to 'purchase', and the pooled two-proportion
    // z-score. Every statistic derives from integer counts through
    // IEEE-exact ops (divide/sqrt are correctly rounded) + the
    // explicit half-up quantization, so the oracle replays the
    // arithmetic bit-for-bit — z and the significance verdict must
    // MATCH, not approximately agree.
    "x117_experiment" -> ((s, d) => {
      val e = t(s, d, "events")
      val units = e.groupBy(col("user_id"))
        .agg((sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)) > 0).as("converted"))
      val variants = Seq("control" -> 0.5, "treatment" -> 0.5)
      graft.operators.Experiment.zTest(
        graft.operators.Experiment.readout(units, "user_id",
          variants, salt = "exp1", convertedCol = "converted"),
        "control", "treatment")
    }),

    // X83 PSI distribution-drift detection (the per-ingest monitor
    // that pairs with x76's profile: did this batch change shape?).
    // Reference = even orders' totalprice; current = odd orders with
    // every 5th customer's prices inflated 1.5x — a real drifted
    // subset, so the overflow bucket and several interior terms are
    // non-zero. Per-bucket terms are quantized to LONG before any
    // sum (the x57 convention); the oracle replays bounds, buckets,
    // smoothed shares, and the quantized ln terms.
    "x83_psi_drift" -> ((s, d) => {
      val o = t(s, d, "orders")
      val ref = o.where(col("o_orderkey") % 2 === 0)
        .select(col("o_totalprice").as("v"))
      val cur = o.where(col("o_orderkey") % 2 === 1)
        .select((col("o_totalprice") *
          when(col("o_custkey") % 5 === 0, 1.5).otherwise(1.0)).as("v"))
      graft.operators.Drift.psiByBucket(ref, cur, "v", k = 10)
        .select(col("bucket").cast(LongType).as("bucket"),
          col("n_ref"), col("n_cur"), col("term_e6"))
        .orderBy(asc_nulls_first("bucket"))
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "q01_scan_sort" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey NULLS FIRST",
    "q02_sentinel_null" ->
      """SELECT c_custkey,
         CASE WHEN c_mktsegment IN ('AUTOMOBILE') THEN NULL ELSE c_mktsegment END AS seg
         FROM customer ORDER BY c_custkey NULLS FIRST""",
    "q03_sentinel_cast" ->
      """SELECT o_orderkey,
         CASE WHEN o_orderstatus IN ('P') THEN NULL ELSE o_orderstatus END AS st,
         CAST(o_orderkey AS BIGINT) * 2 AS k2
         FROM orders ORDER BY o_orderkey NULLS FIRST""",
    "q04_dim_decode" ->
      """SELECT DISTINCT n_regionkey,
         CASE WHEN n_regionkey = 0 THEN 'AFRICA'
              WHEN n_regionkey = 1 THEN 'AMERICA'
              WHEN n_regionkey = 2 THEN 'ASIA'
              WHEN n_regionkey = 3 THEN 'EUROPE'
              WHEN n_regionkey = 4 THEN 'MIDDLE EAST' END AS region_name
         FROM nation WHERE n_regionkey IS NOT NULL
         ORDER BY n_regionkey NULLS FIRST""",
    "q05_join_star" ->
      """SELECT r.r_name, CAST(COUNT(*) AS BIGINT) AS n
         FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
                         JOIN region r ON n.n_regionkey = r.r_regionkey
         GROUP BY r.r_name ORDER BY r.r_name NULLS FIRST""",
    "q06_left_join" ->
      """SELECT n.n_name, CAST(COUNT(c.c_custkey) AS BIGINT) AS n_cust
         FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
         GROUP BY n.n_name ORDER BY n.n_name NULLS FIRST""",
    "q07a_semi" ->
      """SELECT s_suppkey FROM supplier s
         WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)
         ORDER BY s_suppkey NULLS FIRST""",
    "q07b_anti" ->
      """SELECT p_partkey FROM part p
         WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
         ORDER BY p_partkey NULLS FIRST""",
    "q08_group_agg" ->
      """SELECT l_returnflag, l_linestatus,
         ROUND(SUM(l_quantity), 2)                         AS sum_qty,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         ROUND(AVG(l_quantity), 2)                         AS avg_qty,
         CAST(COUNT(*) AS BIGINT)                          AS cnt
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q09_count_distinct" ->
      "SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n FROM orders",
    // the estimate is engine-specific; the 3·rsd error bound is the
    // contract — oracle recomputes the exact count and pins the bound
    "q09b_approx_distinct" ->
      """SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact,
                TRUE AS within_bound FROM orders""",
    "q10_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q10b_cube" ->
      """SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q10c_cond_agg" ->
      """SELECT o_orderpriority,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
         CAST(COUNT(CASE WHEN o_totalprice > 150000 THEN 1 END) AS BIGINT) AS n_big
         FROM orders GROUP BY o_orderpriority
         ORDER BY o_orderpriority NULLS FIRST""",
    "q11_rank_window" ->
      """SELECT c_custkey, c_nationkey, CAST(rnk AS BIGINT) AS rnk FROM (
           SELECT c_custkey, c_nationkey,
                  ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                     ORDER BY c_acctbal DESC, c_custkey) AS rnk
           FROM customer) t
         WHERE rnk <= 3 ORDER BY c_nationkey NULLS FIRST, rnk NULLS FIRST""",
    "q12_running_sum" ->
      """SELECT o_custkey, o_orderkey,
         ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run
         FROM orders ORDER BY o_custkey NULLS FIRST, o_orderkey NULLS FIRST""",
    "q12b_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
         LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_price,
         LEAD(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS next_price
         FROM orders ORDER BY o_custkey NULLS FIRST, o_orderkey NULLS FIRST""",
    "q13_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q14a_intersect" ->
      """SELECT c_nationkey AS k FROM customer
         INTERSECT SELECT s_nationkey FROM supplier ORDER BY k NULLS FIRST""",
    "q14b_except" ->
      """SELECT n_nationkey AS k FROM nation
         EXCEPT SELECT c_nationkey FROM customer ORDER BY k NULLS FIRST""",
    "q14c_union" ->
      """SELECT c_nationkey AS k FROM customer
         UNION SELECT s_nationkey FROM supplier ORDER BY k NULLS FIRST""",
    "q18_hourly_window" ->
      """SELECT DATE_TRUNC('HOUR', ts) AS h, event_type,
         CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS v
         FROM events GROUP BY 1, 2
         ORDER BY h NULLS FIRST, event_type NULLS FIRST""",
    "q19_quality_zone" ->
      """SELECT event_id,
         CASE WHEN event_type IN ('error') THEN NULL ELSE event_type END AS etype,
         CASE WHEN value < 0 THEN NULL
              ELSE ROUND(FLOOR(value * 100 + 0.5) / 100, 2) END AS val
         FROM events ORDER BY event_id NULLS FIRST""",
    "q23_range_join" ->
      """SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           AND l.l_shipdate >= o.o_orderdate
           AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
         GROUP BY o.o_orderpriority
         ORDER BY o.o_orderpriority NULLS FIRST""",
    "q24_cross_join" ->
      """SELECT r.r_regionkey, CAST(COUNT(*) AS BIGINT) AS n
         FROM (SELECT r_regionkey FROM region) r
         CROSS JOIN (SELECT n_nationkey FROM nation) n
         GROUP BY r.r_regionkey
         ORDER BY r.r_regionkey NULLS FIRST""",
    "q28_percentiles" ->
      """SELECT o_orderpriority,
         ROUND(quantile_cont(o_totalprice, 0.5), 2) AS p50,
         ROUND(quantile_cont(o_totalprice, 0.9), 2) AS p90,
         CAST(COUNT(*) AS BIGINT) AS n
         FROM orders GROUP BY o_orderpriority
         ORDER BY o_orderpriority NULLS FIRST""",
    "x16_ngram_jaccard" ->
      """WITH sh AS (
           SELECT doc_id AS id,
                  list_distinct(list_transform(range(1, length(text) - 2),
                    i -> substr(lower(text), CAST(i AS INT), 4))) AS s
           FROM documents WHERE doc_id < 40 AND length(text) >= 4),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b,
                  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                        len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
           FROM sh a, sh b WHERE a.id < b.id)
         SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.2
         ORDER BY id_a NULLS FIRST, id_b NULLS FIRST""",
    "x15_word_counts" ->
      """SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
           SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                     x -> x <> '')) AS word
           FROM documents) t
         GROUP BY word ORDER BY n DESC, word NULLS FIRST LIMIT 20""",
    "q25_sql_subquery" ->
      """SELECT o_orderkey, ROUND(o_totalprice, 2) AS p
         FROM orders o
         WHERE o_totalprice > (SELECT AVG(o_totalprice) * 1.8 FROM orders)
           AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
         ORDER BY o_orderkey NULLS FIRST""",
    "q26_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q27_full_outer" ->
      """SELECT COALESCE(n.n_nationkey, s.s_nationkey) AS k, n.n_name,
         CAST(COALESCE(s.n_supp, 0) AS BIGINT) AS n_supp
         FROM nation n
         FULL OUTER JOIN (SELECT s_nationkey, COUNT(*) AS n_supp
                          FROM supplier GROUP BY s_nationkey) s
           ON n.n_nationkey = s.s_nationkey
         ORDER BY k NULLS FIRST""",
    // per-column stats replayed one UNION ALL branch per column
    "x76_profile" ->
      """WITH v AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal,
           CASE WHEN c_nationkey % 7 = 0 THEN NULL
                ELSE c_mktsegment END AS seg FROM customer)
         SELECT 'c_acctbal' AS "column", COUNT(*) AS n_rows,
                COUNT(*) - COUNT(c_acctbal) AS n_null,
                CAST(COUNT(DISTINCT c_acctbal) AS BIGINT) AS n_distinct,
                CAST(MIN(c_acctbal) AS DOUBLE) AS min_num,
                CAST(MAX(c_acctbal) AS DOUBLE) AS max_num,
                CAST(NULL AS VARCHAR) AS min_str,
                CAST(NULL AS VARCHAR) AS max_str FROM v
         UNION ALL
         SELECT 'c_custkey', COUNT(*), COUNT(*) - COUNT(c_custkey),
                CAST(COUNT(DISTINCT c_custkey) AS BIGINT),
                CAST(MIN(c_custkey) AS DOUBLE), CAST(MAX(c_custkey) AS DOUBLE),
                NULL, NULL FROM v
         UNION ALL
         SELECT 'c_name', COUNT(*), COUNT(*) - COUNT(c_name),
                CAST(COUNT(DISTINCT c_name) AS BIGINT),
                NULL, NULL, MIN(c_name), MAX(c_name) FROM v
         UNION ALL
         SELECT 'c_nationkey', COUNT(*), COUNT(*) - COUNT(c_nationkey),
                CAST(COUNT(DISTINCT c_nationkey) AS BIGINT),
                CAST(MIN(c_nationkey) AS DOUBLE), CAST(MAX(c_nationkey) AS DOUBLE),
                NULL, NULL FROM v
         UNION ALL
         SELECT 'seg', COUNT(*), COUNT(*) - COUNT(seg),
                CAST(COUNT(DISTINCT seg) AS BIGINT),
                NULL, NULL, MIN(seg), MAX(seg) FROM v
         ORDER BY "column"""",
    // step-by-step replay of the earliest-first greedy: t1 = MIN view,
    // t2 = MIN click > t1, t3 = MIN purchase > t2, all within t1+7d
    "x85_funnel" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                     WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, MIN(e.ts) AS t2
                FROM events e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts > s1.t1
                  AND epoch_us(e.ts) <= epoch_us(s1.t1) + 604800000000
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, MIN(e.ts) AS t3
                FROM events e JOIN s2 ON e.user_id = s2.user_id
                              JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                  AND epoch_us(e.ts) <= epoch_us(s1.t1) + 604800000000
                GROUP BY e.user_id)
         SELECT * FROM (
           SELECT CAST(1 AS INT) AS step, 'view' AS step_name,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS users
           UNION ALL
           SELECT CAST(2 AS INT), 'click',
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)
           UNION ALL
           SELECT CAST(3 AS INT), 'purchase',
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM s3))
         ORDER BY step NULLS FIRST""",
    // Monday-truncated weeks in both engines; week deltas are exact
    // multiples of 7 days so integer division is lossless
    "x86_retention" ->
      """WITH f AS (SELECT user_id,
                           CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
                    FROM events GROUP BY user_id),
         a AS (SELECT DISTINCT user_id,
                      CAST(date_trunc('week', ts) AS DATE) AS week
               FROM events)
         SELECT f.cohort_week,
                CAST((a.week - f.cohort_week) // 7 AS INT) AS week_no,
                CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS users
         FROM a JOIN f ON a.user_id = f.user_id
         GROUP BY 1, 2
         ORDER BY cohort_week NULLS FIRST, week_no NULLS FIRST""",
    "x94_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
         FROM customer
         GROUP BY c_nationkey, c_mktsegment
         HAVING COUNT(*) < 10
         ORDER BY c_nationkey NULLS FIRST, c_mktsegment NULLS FIRST""",
    "x110_l_diversity" ->
      """WITH b AS (SELECT c_nationkey, c_mktsegment,
                           FLOOR(c_acctbal / 1000) AS band
                    FROM customer),
         g AS (SELECT c_nationkey, c_mktsegment, band, COUNT(*) AS n
               FROM b GROUP BY 1, 2, 3)
         SELECT c_nationkey, c_mktsegment,
                CAST(SUM(n) AS BIGINT) AS n_rows,
                CAST(COUNT(*) AS BIGINT) AS distinct_sensitive,
                COUNT(*) >= 4 AS meets_l
         FROM g GROUP BY 1, 2
         ORDER BY c_nationkey NULLS FIRST, c_mktsegment NULLS FIRST""",
    // identical island construction: running MAX(end) over the
    // 1-PRECEDING frame, island id = running SUM of the new-island
    // flag over the same total order
    "x109_interval_merge" ->
      """WITH base AS (SELECT l_suppkey AS k,
                  CAST(l_shipdate AS DATE) AS s,
                  CAST(l_shipdate AS DATE)
                    + CAST(l_linenumber AS INTEGER) AS e,
                  l_orderkey, l_linenumber
               FROM lineitem
               WHERE l_shipdate IS NOT NULL),
         f AS (SELECT k, s, e, l_orderkey, l_linenumber,
                 CASE WHEN MAX(e) OVER w IS NULL OR s > MAX(e) OVER w
                      THEN 1 ELSE 0 END AS nw
               FROM base
               WINDOW w AS (PARTITION BY k
                 ORDER BY s, e, l_orderkey, l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         g AS (SELECT k, s, e, SUM(nw) OVER (PARTITION BY k
                 ORDER BY s, e, l_orderkey, l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS island
               FROM f),
         isl AS (SELECT k, island, MIN(s) AS st, MAX(e) AS en
                 FROM g GROUP BY k, island)
         SELECT CAST(k AS BIGINT) AS l_suppkey,
                CAST(COUNT(*) AS BIGINT) AS n_islands,
                CAST(SUM(date_diff('day', st, en) + 1) AS BIGINT)
                  AS covered_days,
                MIN(st) AS first_day, MAX(en) AS last_day
         FROM isl GROUP BY k ORDER BY l_suppkey""",
    // discrete medians by rank selection (never interpolation), the
    // threshold spelled (3.0 * 1.4826) * mad so both engines fold
    // and associate the doubles identically
    "x111_mad_outliers" ->
      """WITH v AS (SELECT l_returnflag AS g,
                  CAST(l_extendedprice AS DOUBLE) AS v
               FROM lineitem WHERE l_extendedprice IS NOT NULL),
         r AS (SELECT g, v,
                 row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
                 COUNT(*) OVER (PARTITION BY g) AS n
               FROM v),
         med AS (SELECT g, v AS med, n FROM r
                 WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)),
         d AS (SELECT v.g, abs(v.v - med.med) AS dev, med.med, med.n
               FROM v JOIN med ON v.g = med.g),
         r2 AS (SELECT g, dev,
                 row_number() OVER (PARTITION BY g ORDER BY dev) AS rn,
                 n
               FROM d),
         mad AS (SELECT g, dev AS mad FROM r2
                 WHERE rn = CAST(ceil(n / 2.0) AS BIGINT))
         SELECT d.g AS l_returnflag,
                CAST(MAX(d.n) AS BIGINT) AS n_vals,
                ROUND(MAX(d.med), 2) AS med,
                ROUND(MAX(mad.mad), 2) AS mad,
                CAST(COUNT(*) FILTER
                  (WHERE d.dev > (3.0 * 1.4826) * mad.mad) AS BIGINT)
                  AS n_outliers
         FROM d JOIN mad ON d.g = mad.g
         GROUP BY d.g ORDER BY l_returnflag NULLS FIRST""",
    "x113_ntile" ->
      """WITH r AS (SELECT l_extendedprice AS v,
                  ntile(10) OVER (ORDER BY l_extendedprice,
                    l_orderkey, l_linenumber) AS bin
               FROM lineitem)
         SELECT CAST(bin AS BIGINT) AS bin,
                CAST(COUNT(*) AS BIGINT) AS n,
                ROUND(MIN(v), 2) AS min_v, ROUND(MAX(v), 2) AS max_v
         FROM r GROUP BY bin ORDER BY bin""",
    "x115_ntile_by_group" ->
      """WITH r AS (SELECT l_returnflag, l_extendedprice AS v,
                  ntile(4) OVER (PARTITION BY l_returnflag
                    ORDER BY l_extendedprice, l_orderkey,
                      l_linenumber) AS bin
               FROM lineitem)
         SELECT l_returnflag, CAST(bin AS BIGINT) AS bin,
                CAST(COUNT(*) AS BIGINT) AS n,
                ROUND(MIN(v), 2) AS min_v, ROUND(MAX(v), 2) AS max_v
         FROM r GROUP BY l_returnflag, bin
         ORDER BY l_returnflag NULLS FIRST, bin""",
    "x116_join_explosion" ->
      """WITH la AS (SELECT user_id AS key, COUNT(*) AS n_left
                     FROM events WHERE event_type = 'view'
                       AND user_id IS NOT NULL GROUP BY 1),
         ra AS (SELECT user_id AS key, COUNT(*) AS n_right
                FROM events WHERE event_type = 'click'
                  AND user_id IS NOT NULL GROUP BY 1),
         m AS (SELECT la.key, n_left, n_right,
                 n_left * n_right AS est_rows
               FROM la JOIN ra USING (key)),
         tot AS (SELECT CAST(COALESCE(SUM(est_rows), 0) AS BIGINT)
                   AS est_join_rows,
                 CAST(COUNT(*) AS BIGINT) AS n_matched_keys,
                 CAST(COALESCE(MAX(est_rows), 0) AS BIGINT)
                   AS max_key_product
                 FROM m),
         nl AS (SELECT CAST(COUNT(*) AS BIGINT) AS null_key_rows_left
                FROM events WHERE event_type = 'view'
                  AND user_id IS NULL),
         nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS null_key_rows_right
                FROM events WHERE event_type = 'click'
                  AND user_id IS NULL),
         top AS (SELECT * FROM m ORDER BY est_rows DESC, key LIMIT 5)
         SELECT CAST(key AS BIGINT) AS key,
                CAST(n_left AS BIGINT) AS n_left,
                CAST(n_right AS BIGINT) AS n_right,
                CAST(est_rows AS BIGINT) AS est_rows,
                est_join_rows, n_matched_keys, max_key_product,
                null_key_rows_left, null_key_rows_right
         FROM top, tot, nl, nr
         ORDER BY est_rows DESC, key""",
    // the identical integer-derived arithmetic: division and sqrt are
    // IEEE-correctly-rounded, quantization is the explicit half-up
    // formula — z must match bit-for-bit, not approximately
    "x117_experiment" -> {
      val splitExpr = graft.operators.Splits.splitSql(
        "user_id", Seq("control" -> 0.5, "treatment" -> 0.5), "exp1")
      s"""WITH u AS (SELECT user_id,
                  SUM(CASE WHEN event_type = 'purchase' THEN 1
                      ELSE 0 END) > 0 AS conv
               FROM events GROUP BY user_id),
         v AS (SELECT $splitExpr AS variant, conv FROM u),
         r AS (SELECT variant, COUNT(*) AS n,
                 SUM(CASE WHEN conv THEN 1 ELSE 0 END) AS c
               FROM v GROUP BY variant),
         a AS (SELECT n AS n_a, c AS c_a FROM r
               WHERE variant = 'control'),
         b AS (SELECT n AS n_b, c AS c_b FROM r
               WHERE variant = 'treatment'),
         s AS (SELECT n_a, c_a, n_b, c_b,
                 CAST(c_a AS DOUBLE) / n_a AS pa,
                 CAST(c_b AS DOUBLE) / n_b AS pb,
                 CAST(c_a + c_b AS DOUBLE) / (n_a + n_b) AS pool
               FROM a, b),
         zc AS (SELECT *,
                 sqrt(pool * (1.0 - pool)
                   * (1.0 / n_a + 1.0 / n_b)) AS se
                FROM s)
         SELECT 'control' AS variant_a, 'treatment' AS variant_b,
                CAST(n_a AS BIGINT) AS n_a, CAST(c_a AS BIGINT) AS c_a,
                CAST(n_b AS BIGINT) AS n_b, CAST(c_b AS BIGINT) AS c_b,
                FLOOR(pa * 10000 + 0.5) / 10000 AS rate_a,
                FLOOR(pb * 10000 + 0.5) / 10000 AS rate_b,
                FLOOR((CASE WHEN se > 0 THEN (pa - pb) / se
                       ELSE 0.0 END) * 10000 + 0.5) / 10000 AS z,
                abs(CASE WHEN se > 0 THEN (pa - pb) / se
                    ELSE 0.0 END) > 1.96 AS significant_95
         FROM zc"""
    },
    // the same (user, ts) MAX-channel pre-collapse, DuckDB's own ASOF
    // LEFT JOIN (inclusive <=), the identical strict-< staleness
    // null-out, ROUND(SUM, 2)
    "x92_attribution" ->
      """WITH p AS (SELECT user_id, ts, value FROM events
                    WHERE event_type = 'purchase'),
         tch AS (SELECT user_id, ts, MAX(event_type) AS channel
                 FROM events WHERE event_type IN ('click', 'view')
                 GROUP BY user_id, ts),
         j AS (SELECT p.value,
                      CASE WHEN tch.ts < p.ts - INTERVAL 7 DAY THEN NULL
                           ELSE tch.channel END AS channel
               FROM p ASOF LEFT JOIN tch
                 ON p.user_id = tch.user_id AND tch.ts <= p.ts)
         SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_conversions,
                ROUND(SUM(value), 2) AS revenue
         FROM j GROUP BY channel
         ORDER BY channel NULLS FIRST""",
    // the x85 greedy chain replayed, lags in micros/1e6 seconds,
    // quantile_cont + ROUND(2) (the q28 percentile convention)
    "x91_conversion_lag" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                     WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, MIN(e.ts) AS t2
                FROM events e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts > s1.t1
                  AND epoch_us(e.ts) <= epoch_us(s1.t1) + 604800000000
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, MIN(e.ts) AS t3
                FROM events e JOIN s2 ON e.user_id = s2.user_id
                              JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                  AND epoch_us(e.ts) <= epoch_us(s1.t1) + 604800000000
                GROUP BY e.user_id),
         lags AS (
           SELECT 'view->click' AS step_pair,
                  (epoch_us(s2.t2) - epoch_us(s1.t1)) / 1000000.0 AS lag_s
           FROM s2 JOIN s1 ON s2.user_id = s1.user_id
           UNION ALL
           SELECT 'click->purchase',
                  (epoch_us(s3.t3) - epoch_us(s2.t2)) / 1000000.0
           FROM s3 JOIN s2 ON s3.user_id = s2.user_id)
         SELECT step_pair,
                ROUND(quantile_cont(lag_s, 0.5), 2) AS p50,
                ROUND(quantile_cont(lag_s, 0.9), 2) AS p90,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM lags GROUP BY step_pair
         ORDER BY step_pair NULLS FIRST""",
    // bounds from the reference, equal-width buckets + under/overflow,
    // 1e-6 smoothed shares, quantized ln terms
    "x83_psi_drift" ->
      """WITH ref AS (SELECT o_totalprice AS v FROM orders
                      WHERE o_orderkey % 2 = 0),
         cur AS (SELECT o_totalprice *
                        CASE WHEN o_custkey % 5 = 0 THEN 1.5 ELSE 1.0 END AS v
                 FROM orders WHERE o_orderkey % 2 = 1),
         b AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM ref),
         hr AS (SELECT CASE WHEN v < b.mn THEN -1 WHEN v >= b.mx THEN 10
                            ELSE CAST(floor((v - b.mn) /
                                            ((b.mx - b.mn) / 10)) AS INT)
                       END AS bucket, COUNT(*) AS n_ref
                FROM ref CROSS JOIN b GROUP BY 1),
         hc AS (SELECT CASE WHEN v < b.mn THEN -1 WHEN v >= b.mx THEN 10
                            ELSE CAST(floor((v - b.mn) /
                                            ((b.mx - b.mn) / 10)) AS INT)
                       END AS bucket, COUNT(*) AS n_cur
                FROM cur CROSS JOIN b GROUP BY 1),
         grid AS (SELECT CAST(unnest(range(-1, 11)) AS INT) AS bucket),
         j AS (SELECT g.bucket, COALESCE(hr.n_ref, 0) AS n_ref,
                      COALESCE(hc.n_cur, 0) AS n_cur
               FROM grid g LEFT JOIN hr USING (bucket)
                           LEFT JOIN hc USING (bucket)),
         t AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM j)
         SELECT CAST(j.bucket AS BIGINT) AS bucket,
                CAST(j.n_ref AS BIGINT) AS n_ref,
                CAST(j.n_cur AS BIGINT) AS n_cur,
                CAST(floor(
                  (GREATEST(j.n_ref / CAST(t.tr AS DOUBLE), 0.000001) -
                   GREATEST(j.n_cur / CAST(t.tc AS DOUBLE), 0.000001)) *
                  ln(GREATEST(j.n_ref / CAST(t.tr AS DOUBLE), 0.000001) /
                     GREATEST(j.n_cur / CAST(t.tc AS DOUBLE), 0.000001)) *
                  1000000 + 0.5) AS BIGINT) AS term_e6
         FROM j CROSS JOIN t
         ORDER BY bucket NULLS FIRST""",
  )
}
