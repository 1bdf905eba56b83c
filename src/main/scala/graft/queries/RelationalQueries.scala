package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Relational operator coverage (SURVEY.md §2.B): scans, filters,
  * equi/theta joins, semi/anti/outer joins, aggregation, distinct
  * aggregation, rollup/cube, window functions, set ops, subqueries,
  * top-k, string/date/json scalar functions.
  *
  * Every query here has a DuckDB oracle. Numeric outputs that involve
  * accumulation over doubles are cast to DECIMAL before aggregation so
  * Spark and DuckDB produce bit-identical results regardless of
  * reduction order — this also mirrors what a production engine would
  * do for money columns at 100 TB (floating-point sums are
  * non-deterministic across partitionings).
  *
  * Scale notes: dimension tables (region, nation, supplier, part,
  * customer-at-small-sf) are broadcast explicitly; fact-fact joins
  * shuffle on the join key and rely on AQE for skew handling.
  */
object RelationalQueries {

  /** Cast a double money/quantity column to an exact decimal. */
  private def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Final-output numeric normalization. The driver's hash is
    * representation-sensitive: a DECIMAL output formats with trailing
    * zeros ("275005.00") on the parquet side but "275005.0" after the
    * oracle's decimal->float conversion, so equal values still
    * hash-mismatch. Every money aggregate therefore accumulates as an
    * EXACT decimal (order-independent across partitionings) and the
    * final value is cast to DOUBLE on BOTH sides. Decimal->double is
    * correctly rounded in Spark (BigDecimal.doubleValue) and DuckDB
    * (int/10^s with both exact in double) while the unscaled value is
    * < 2^53 — true for every gate scale factor — so the two engines
    * produce bit-identical doubles. No decimal rescale happens on the
    * way out: DuckDB truncates on rescale while Spark rounds HALF_UP,
    * so only natural-scale sums are cast.
    */
  private def dbl(c: Column): Column = c.cast("double")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- Aggregation: hash agg with partial/final, multiple measures ---
    "q01_pricing_summary" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.lineitem
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dbl(sum(dec(col("l_quantity")))).as("sum_qty"),
          dbl(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
          dbl(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(12, 2)) - dec(col("l_discount")))))
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
    },

    // --- Scan + filter + projection (predicate/column pushdown) ---
    "q02_filter_project" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.part
        .filter(col("p_size") <= 15 && col("p_type").isin("ECONOMY", "PROMO"))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_retailprice"))
    },

    // --- 3-way join + agg + top-k (TPC-H q3 shape) ---
    "q03_top_revenue_orders" -> { (s, dir) =>
      val t = Tables(s, dir)
      val cust = t.customer.filter(col("c_mktsegment") === "BUILDING")
      val ord = t.orders.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = t.lineitem.filter(col("l_shipdate") > lit("1996-01-01").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(dbl(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(12, 2)) - dec(col("l_discount")))))
          .as("revenue"))
        .select(col("l_orderkey"), col("o_orderdate").cast("date").as("orderdate"), col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    },

    // --- EXISTS → left semi join ---
    "q04_exists_semijoin" -> { (s, dir) =>
      val t = Tables(s, dir)
      val bigLines = t.lineitem.filter(col("l_quantity") > 45).select(col("l_orderkey"))
      t.orders
        .join(bigLines, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    },

    // --- 6-way join, broadcast dims, agg per nation (TPC-H q5 shape) ---
    "q05_nation_revenue" -> { (s, dir) =>
      val t = Tables(s, dir)
      val ord = t.orders.filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      t.lineitem
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t.customer), col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"), col("r_name"))
        .agg(dbl(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(12, 2)) - dec(col("l_discount")))))
          .as("revenue"))
    },

    // --- Highly selective filter + single scalar aggregate (TPC-H q6) ---
    "q06_forecast_revenue" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.lineitem
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
            col("l_discount").between(0.05, 0.07) &&
            col("l_quantity") < 24)
        .agg(dbl(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))).as("revenue"),
          count(lit(1)).as("n_lines"))
    },

    // --- Left outer join + conditional aggregation ---
    "q07_outer_join_agg" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.customer
        .join(t.orders, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_mktsegment"))
        .agg(
          countDistinct(col("c_custkey")).as("n_customers"),
          count(col("o_orderkey")).as("n_orders"),
          countDistinct(when(col("o_orderkey").isNull, col("c_custkey"))).as("n_inactive"))
    },

    // --- Window: rank per partition, keep top-3 (ties included) ---
    "q08_window_rank" -> { (s, dir) =>
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      t.customer
        .withColumn("rnk", rank().over(w))
        .filter(col("rnk") <= 3)
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"), col("rnk"))
    },

    // --- Window: running total over a frame ---
    "q09_running_total" -> { (s, dir) =>
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.orders
        .filter(col("o_custkey") < 50)
        .withColumn("running_spend", dbl(sum(dec(col("o_totalprice"))).over(w)))
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("orderdate"), col("running_spend"))
    },

    // --- Rollup with grouping indicators ---
    "q10_rollup" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.orders
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dbl(sum(dec(col("o_totalprice")))).as("total"),
          grouping(col("o_orderpriority")).cast("int").as("g_priority"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"))
    },

    // --- Cube ---
    "q11_cube" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.lineitem
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(dbl(sum(dec(col("l_quantity")))).as("sum_qty"), count(lit(1)).as("n"))
    },

    // --- INTERSECT (distinct set semantics) ---
    "q12_intersect" -> { (s, dir) =>
      val t = Tables(s, dir)
      val open = t.orders.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      val done = t.orders.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      open.intersect(done)
    },

    // --- EXCEPT (distinct set semantics) ---
    "q13_except" -> { (s, dir) =>
      val t = Tables(s, dir)
      val open = t.orders.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      val done = t.orders.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      open.except(done)
    },

    // --- count(distinct) — Spark plans expand + two-phase agg ---
    "q14_distinct_agg" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_lines"))
    },

    // --- CASE/string functions: substr, upper, like, concat ---
    "q15_case_string" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.part
        .withColumn("tier",
          when(col("p_retailprice") < 950, "LOW")
            .when(col("p_retailprice") < 1050, "MID")
            .otherwise("HIGH"))
        .withColumn("name_head", upper(substring(col("p_name"), 1, 5)))
        .filter(col("p_name").like("%bolt%") || col("p_name").like("%widget%"))
        .groupBy(col("tier"), col("name_head"))
        .agg(count(lit(1)).as("n"))
    },

    // --- Date/time functions: extract parts, group by them ---
    "q16_date_agg" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.orders
        .groupBy(year(col("o_orderdate")).as("o_year"), month(col("o_orderdate")).as("o_month"))
        .agg(count(lit(1)).as("n_orders"), dbl(sum(dec(col("o_totalprice")))).as("total"))
    },

    // --- Uncorrelated scalar subquery ---
    "q17_scalar_subquery" -> { (s, dir) =>
      val t = Tables(s, dir)
      val avgSize = t.part.agg(avg(col("p_size")).as("a"))
      t.part
        .join(broadcast(avgSize))
        .filter(col("p_size") > col("a"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_big_parts"))
    },

    // --- Top-k: order by + limit → TakeOrderedAndProject ---
    "q18_topk" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.orders
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
    },

    // --- JSON extraction from a string column ---
    "q19_json_extract" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.events
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
    },

    // --- Time-bucketed aggregation ---
    "q20_events_hourly" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.events
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dbl(sum(dec(col("value")))).as("sum_value"))
    },

    // --- UNION ALL of heterogeneous branches, then agg ---
    "q21_union_all" -> { (s, dir) =>
      val t = Tables(s, dir)
      val a = t.lineitem.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("k"), dec(col("l_extendedprice")).as("v"))
      val b = t.orders.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("k"), dec(col("o_totalprice")).as("v"))
      a.unionAll(b)
        .groupBy((col("k") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), dbl(sum(col("v"))).as("total"))
    },

    // --- NOT EXISTS → left anti join ---
    "q22_antijoin" -> { (s, dir) =>
      val t = Tables(s, dir)
      val urgent = t.orders.filter(col("o_orderpriority") === "1-URGENT")
      t.customer
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_no_urgent"))
    },

    // --- Theta/range join: orders paired with same-day shipments ---
    "q23_range_join" -> { (s, dir) =>
      val t = Tables(s, dir)
      val li = t.lineitem.groupBy(col("l_orderkey"))
        .agg(min(col("l_shipdate")).as("first_ship"))
      t.orders
        .join(li, col("o_orderkey") === col("l_orderkey") &&
          col("first_ship") > col("o_orderdate") &&
          col("first_ship") <= date_add(col("o_orderdate").cast("date"), 30).cast("timestamp"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_fast"))
    },

    // --- Correlated aggregate via self-join (avg per brand) ---
    "q24_groupwise_above_avg" -> { (s, dir) =>
      val t = Tables(s, dir)
      val brandAvg = t.part.groupBy(col("p_brand").as("b"))
        .agg(avg(col("p_size")).as("avg_size"))
      t.part
        .join(broadcast(brandAvg), col("p_brand") === col("b"))
        .filter(col("p_size") > col("avg_size"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_above"))
    },

    // --- Approx/sketch aggregates (SURVEY §2.B: expose Spark built-ins).
    //     HLL++/GK sketches differ per engine, so the oracle checks the
    //     ENGINE-INDEPENDENT contract instead of the sketch value: each
    //     engine's own approximation must sit within the advertised
    //     error of its own exact answer — 'ok' rows hash-match. ---
    "q26_approx_sketches" -> { (s, dir) =>
      val t = Tables(s, dir)
      t.orders
        .groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_custkey")).as("exact_nd"),
          approx_count_distinct(col("o_custkey"), 0.05).as("approx_nd"),
          expr("percentile_approx(o_totalprice, 0.5, 1000)").as("approx_p50"),
          expr("percentile(o_totalprice, 0.5)").as("exact_p50"))
        .select(col("o_orderpriority"),
          when(abs(col("approx_nd") - col("exact_nd")) <= col("exact_nd") * 0.1, "ok")
            .otherwise("off").as("nd_check"),
          when(abs(col("approx_p50") - col("exact_p50")) <= col("exact_p50") * 0.1, "ok")
            .otherwise("off").as("p50_check"))
    },

    // --- Explicit GROUPING SETS (beyond rollup/cube) ---
    "q27_grouping_sets" -> { (s, dir) =>
      Tables(s, dir).orders.createOrReplaceTempView("graft_q27_orders")
      s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                 CAST(grouping(o_orderstatus) AS INT) AS g_status,
                 CAST(grouping(o_orderpriority) AS INT) AS g_priority
               FROM graft_q27_orders
               GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                 (o_orderstatus, o_orderpriority))""")
    },

    // --- Window analytics: ntile, percent_rank, lead, first_value ---
    "q28_window_analytics" -> { (s, dir) =>
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
      t.customer
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("next_bal", lead(col("c_acctbal"), 1).over(w))
        .withColumn("seg_min",
          first(col("c_acctbal")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("c_custkey") <= 100)
        .select(col("c_custkey"), col("c_mktsegment"), col("quartile"),
          col("pct_rank"), col("next_bal"), col("seg_min"))
    },

    // --- Lateral view / explode over a computed array ---
    "q29_lateral_explode" -> { (s, dir) =>
      Tables(s, dir).part
        .select(col("p_partkey"), posexplode(split(col("p_type"), " ")).as(Seq("pos", "word")))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"), countDistinct(col("p_partkey")).as("n_parts"))
    },

    // --- Pivot (status × priority counts as columns) ---
    "q30_pivot" -> { (s, dir) =>
      Tables(s, dir).orders
        .groupBy(col("o_orderpriority"))
        .pivot(col("o_orderstatus"), Seq("O", "F", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("O"), lit(0L)).as("n_open"),
          coalesce(col("F"), lit(0L)).as("n_finished"),
          coalesce(col("P"), lit(0L)).as("n_partial"))
    },

    // --- Sessionization: gap>30min starts a new session (lag + cumsum) ---
    "q25_sessionize" -> { (s, dir) =>
      val t = Tables(s, dir)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      t.events
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1).otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
    },

    // --- As-of join: each click attributed to the user's latest view
    //     at-or-before it (union+window plan — no range explosion;
    //     oracle is DuckDB's native ASOF LEFT JOIN) ---
    "q31_asof_join" -> { (s, dir) =>
      val ev = Tables(s, dir).events
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_id"))
        .withColumn("view_ts", col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      graft.operators.AsofJoin.asof(clicks, views, Seq("user_id"),
        leftTime = "ts", rightTime = "ts",
        rightCols = Seq("view_id", "view_ts"))
        .select(col("event_id"), col("user_id"), col("value"),
          col("asof_view_id").as("view_id"),
          (unix_micros(col("ts")) - unix_micros(col("asof_view_ts")))
            .as("latency_us"))
    },

    // --- Ordered funnel: view → click → purchase, each stage's first
    //     event strictly after the previous stage's. Per-stage
    //     conditional min-ts aggregations keyed by user — the
    //     multi-pass shape funnels genuinely need; every shuffle is on
    //     user_id. ---
    "q32_funnel" -> { (s, dir) =>
      val ev = Tables(s, dir).events
      def firstAfter(tpe: String, prev: DataFrame, prevTs: String, out: String) =
        ev.filter(col("event_type") === tpe)
          .join(prev, "user_id")
          .filter(col("ts") > col(prevTs))
          .groupBy(col("user_id")).agg(min(col("ts")).as(out))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
      val c = firstAfter("click", v, "v_ts", "c_ts")
      val p = firstAfter("purchase", c, "c_ts", "p_ts")
      v.agg(count(lit(1)).as("n_view")).crossJoin(
          c.agg(count(lit(1)).as("n_view_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_view_click_purchase")))
    },

    // --- Retention cohorts: users grouped by first-activity date,
    //     distinct actives per (cohort, day offset 0..6). ---
    "q33_retention" -> { (s, dir) =>
      val ev = Tables(s, dir).events
      val cohort = ev.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("cohort_date"))
      ev.select(col("user_id"), to_date(col("ts")).as("day"))
        .join(cohort, "user_id")
        .withColumn("day_offset", datediff(col("day"), col("cohort_date")))
        .filter(col("day_offset") <= 6)
        .groupBy(col("cohort_date"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
    },

    // --- Time-series gap-fill: hourly event counts per type with
    //     MISSING hours materialized as explicit zero rows over each
    //     type's own [min, max] span — the densification step every
    //     downstream window/forecast needs (a rolling average over a
    //     sparse series silently skips the gaps). The grid generates
    //     from the aggregated span table (|types| rows → |types|·hours
    //     rows), never from raw events, and joins back against the
    //     already-aggregated hourly counts. ---
    "q34_gapfill" -> { (s, dir) => gapfilledHourly(s, dir) },

    // --- 7-hour trailing mean over the DENSIFIED series — the payoff
    //     of q34's gap-fill: the same window over the sparse series
    //     would silently skip missing hours and overestimate quiet
    //     periods. Integer window sums divided once at the end, so
    //     the doubles are cross-engine exact; the zero-padded hour
    //     string orders lexicographically == chronologically. ---
    "q35_rolling_avg" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("hour")).rowsBetween(-6, 0)
      gapfilledHourly(s, dir)
        .select(col("event_type"), col("hour"), col("n_events"),
          (sum(col("n_events")).over(w).cast("double") /
            count(lit(1)).over(w).cast("double")).as("avg7"))
    },

    // --- Time-weighted average over an IRREGULAR series: each value
    //     holds until the type's next event (step interpolation), so
    //     TWA = Σ value·duration / span — the metric a plain avg gets
    //     wrong whenever sampling is bursty (a spike sampled 100× in
    //     one minute dominates avg but barely moves TWA). Durations
    //     from lead() over (ts, event_id) — the id tiebreak keeps the
    //     window deterministic; value is quantized to integer centi
    //     units so the weighted sum is associative and cross-engine
    //     exact, with ONE double division at the end. One shuffle on
    //     event_type; the window walks each type's partition once. ---
    "q36_time_weighted_avg" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("t"), col("event_id"))
      Tables(s, dir).events
        .select(col("event_type"), col("event_id"), col("value"),
          unix_micros(col("ts")).as("t"))
        .withColumn("dur_us", lead(col("t"), 1).over(w) - col("t"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100).cast("long") * col("dur_us"))
            .as("weighted_centi_us"),
          (max(col("t")) - min(col("t"))).as("span_us"))
        .select(col("event_type"), col("n_events"),
          // nullif guards the degenerate single-timestamp type (span 0):
          // Spark's non-ANSI 0/0 yields NULL but DuckDB's IEEE divide
          // yields NaN — the d57 divergence class; NULL/NULL both sides
          (col("weighted_centi_us").cast("double") /
            nullif(col("span_us") * 100L, lit(0L)).cast("double")).as("twa"))
    },

    // --- OHLC bars: per (type, hour) the open/high/low/close of
    //     `value` plus the event count — the candlestick aggregation.
    //     Open/close come from ONE window ordered by (ts, event_id)
    //     (first_value/last_value over the full frame, deterministic
    //     under ts ties), then the group-by collapses the bar; raw
    //     values are compared exactly, no float summation enters the
    //     contract. One shuffle on (type, hour). ---
    "q37_ohlc" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"), col("hr"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      Tables(s, dir).events
        .select(col("event_type"),
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("hr"),
          col("ts"), col("event_id"), col("value"))
        .withColumn("open", first(col("value")).over(w))
        .withColumn("close", last(col("value")).over(w))
        .groupBy(col("event_type"), col("hr"))
        .agg(max(col("open")).as("open"), max(col("value")).as("high"),
          min(col("value")).as("low"), max(col("close")).as("close"),
          count(lit(1)).as("n_events"))
    },

    // --- FORWARD as-of with tolerance: each view's NEXT purchase by
    //     the same user within one hour (the conversion-attribution
    //     lookup; q31 is the backward twin). Union-and-window shape —
    //     one shuffle on user_id, one ordered walk, never a theta
    //     join; the tolerance nulls matches past the bound without
    //     searching farther. ---
    "q38_asof_forward" -> { (s, dir) =>
      val ev = Tables(s, dir).events
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.AsofJoin.asofForward(views, purch, Seq("user_id"),
        leftTime = "ts", rightTime = "ts", rightCols = Seq("value"),
        toleranceUs = Some(3600L * 1000000L))
        .select(col("event_id"), col("user_id"),
          col("asof_value").as("next_value"),
          (unix_micros(col("asof_ts")) - unix_micros(col("ts"))).as("wait_us"))
    },

    // --- Debounce / throttle audit: flag events arriving within 60 s
    //     of the PREVIOUS same-(user, type) event — the repeated-click
    //     cleanup every event pipeline runs before attribution (kept
    //     as a flag, not a filter, so downstream can audit what a
    //     debounce pass would drop). One lag() per (user, type)
    //     partition ordered by (t, event_id); the comparison is pure
    //     integer microseconds. One shuffle on (user_id, event_type). ---
    "q39_debounce" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("t"), col("event_id"))
      Tables(s, dir).events
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"))
        .withColumn("prev_t", lag(col("t"), 1).over(w))
        .select(col("event_id"), col("user_id"), col("event_type"),
          (col("prev_t").isNull || col("t") - col("prev_t") > 60000000L).as("keep"))
    },

    // --- Hourly anomaly flags over the DENSIFIED series (q34's
    //     gap-fill feeds this too: a z-score computed on the sparse
    //     series never sees the zero hours, which are exactly the
    //     outage anomalies worth flagging). |z| > 3 is tested in pure
    //     integers: with N hours, S = Σn, Q = Σn² per type,
    //     z² > 9  ⟺  (n·N − S)² > 9·(N·Q − S²) — no division, no
    //     doubles, cross-engine exact even where σ = 0 (both sides 0
    //     for a constant series, so nothing flags). Per-type stats are
    //     a |types|-row aggregate joined back by broadcast; the only
    //     shuffle is q34's own (type, hour) count. ---
    "q40_hourly_anomaly" -> { (s, dir) =>
      val filled = gapfilledHourly(s, dir)
      val stats = filled.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          sum(col("n_events")).as("s"),
          sum(col("n_events") * col("n_events")).as("q"))
      val dev = col("n_events") * col("n_hours") - col("s")
      filled.join(broadcast(stats), "event_type")
        .select(col("event_type"), col("hour"), col("n_events"),
          (dev * dev > lit(9L) * (col("n_hours") * col("q") - col("s") * col("s")))
            .as("is_anomaly"))
    },

    // --- PREQUENTIAL anomaly flags: each hour judged against the
    //     hours strictly BEFORE it (expanding frame) — what a live
    //     monitor that cannot see the future actually computes. Same
    //     integer z² inequality as q40 with cumulative N/S/Q; hours
    //     with fewer than two predecessors never flag (no variance
    //     estimate yet — `false && null` collapses to false in both
    //     engines). ---
    "q41_running_anomaly" -> { (s, dir) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val dev = col("n_events") * col("n_prior") - col("s")
      gapfilledHourly(s, dir)
        .select(col("event_type"), col("hour"), col("n_events"),
          count(lit(1)).over(w).as("n_prior"),
          sum(col("n_events")).over(w).as("s"),
          sum(col("n_events") * col("n_events")).over(w).as("q"))
        .select(col("event_type"), col("hour"), col("n_events"),
          (col("n_prior") > 1 &&
            dev * dev > lit(9L) * (col("n_prior") * col("q") - col("s") * col("s")))
            .as("is_anomaly"))
    },

    // --- Sliding distinct count: users active in the trailing 3 hours,
    //     per hour — the DAU/WAU family's expensive exact variant done
    //     with the scalable shape: dedupe to (hour, user) FIRST (the
    //     only corpus-sized shuffle), then each pair map-side explodes
    //     into the ≤3 hour buckets it contributes to, then one
    //     hour-keyed distinct count over the already-bounded pair
    //     table. Never a per-hour collect_set, never a self-join of
    //     raw events. ---
    "q42_sliding_distinct" -> { (s, dir) =>
      val hu = Tables(s, dir).events
        .select(date_trunc("hour", col("ts")).as("h"), col("user_id"))
        .distinct()
      val hours = hu.select(col("h")).distinct()
      hu.select(explode(sequence(lit(0), lit(2))).as("k"), col("h"), col("user_id"))
        .select(expr("timestampadd(HOUR, k, h)").as("h"), col("user_id"))
        .join(hours, "h") // report only hours present in the data
        .distinct()
        .groupBy(col("h"))
        .agg(count(lit(1)).as("active_3h"))
        .select(date_format(col("h"), "yyyy-MM-dd HH").as("hour"), col("active_3h"))
    },

    // --- Exact grouped quantiles: per-type median and p90 of the event
    //     value — the EXACT complement of q26's approx-sketch contract
    //     (SLO reporting wants the true p90, not an ε-bound). Spark's
    //     `percentile` and DuckDB's `quantile_cont` share the
    //     lower + (upper − lower)·frac interpolation, verified
    //     bit-identical on this fixture. One group-keyed exchange; the
    //     per-group sort is bounded by the group's row count (skewed
    //     groups: pre-aggregate duplicates or fall back to q26's
    //     sketches at extreme cardinality). ---
    "q43_exact_quantiles" -> { (s, dir) =>
      Tables(s, dir).events
        .groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.5)).as("median_value"),
          percentile(col("value"), lit(0.9)).as("p90_value"),
          count(lit(1)).as("n_events"))
    },

    // --- Latest row per key: each user's most recent event — the
    //     change-log → current-snapshot collapse (SCD type-1 read, CDC
    //     compaction). ONE struct-max aggregate (map-side combine,
    //     single exchange on the key): the struct's lexicographic order
    //     (ts, event_id, …) makes the pick total and deterministic with
    //     no window sort of the full log and no groupwise self-join. ---
    "q44_latest_event" -> { (s, dir) =>
      Tables(s, dir).events
        .groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
          col("value"))).as("m"))
        .select(col("user_id"), unix_micros(col("m.ts")).as("last_ts_us"),
          col("m.event_id").as("event_id"), col("m.event_type").as("event_type"),
          col("m.value").as("last_value"))
    },

    // --- CUSUM change-point alarms: the sequential cumulative-sum
    //     detector (Page 1954) over the gap-filled hourly series —
    //     S_i = max(0, S_{i-1} + x_i − ref − slack), alarm while
    //     S ≥ h. Catches sustained small shifts the per-point z-score
    //     family (q40/q41) misses by design. The recursive fold can't
    //     be a window function; it runs as an `aggregate` HOF over the
    //     per-type series collected into ONE bounded array (≤ hours in
    //     the span — ~9k for a year — per type), so the heavy work
    //     stays the hourly aggregation and the fold is driver-free
    //     map-side arithmetic. Integers throughout. ---
    "q45_cusum_alarm" -> { (s, dir) =>
      val ser = gapfilledHourly(s, dir)
        .groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("hour"), col("n_events"))))
            .as("xs"),
          sum(col("n_events")).as("total"), count(lit(1)).as("cnt"))
      val refCol = expr("total div cnt") + lit(2L)
      ser
        .select(col("event_type"), refCol.as("ref"),
          aggregate(
            transform(col("xs"), x => x.getField("n_events")),
            struct(lit(0L).as("s"), lit(0L).as("a"), lit(0L).as("m")),
            (acc, x) => {
              val s2 = greatest(lit(0L), acc.getField("s") + x - refCol)
              struct(s2.as("s"),
                (acc.getField("a") +
                  when(s2 >= lit(6L), lit(1L)).otherwise(lit(0L))).as("a"),
                greatest(acc.getField("m"), s2).as("m"))
            }).as("f"))
        .select(col("event_type"), col("ref"),
          col("f.a").as("n_alarm_hours"), col("f.m").as("max_cusum"))
    },

    // --- User-journey transition matrix: counts of consecutive
    //     (prev_type → type) steps per user in (ts, event_id) order
    //     — the Markov first-order diagnostic behind funnel design
    //     (which steps actually follow which). One user-keyed window
    //     (per-user event counts are bounded), one pair-keyed
    //     aggregate; transition shares in integer permille. ---
    "q47_transition_matrix" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val steps = Tables(s, dir).events
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n_steps"))
      val outTotals = steps.groupBy(col("prev_type"))
        .agg(sum(col("n_steps")).as("n_out"))
      steps.join(broadcast(outTotals), Seq("prev_type"))
        .select(col("prev_type"), col("next_type"), col("n_steps"),
          expr("n_steps * 1000 div n_out").as("share_permille"))
    },

    // --- Weekly retention cohorts: each user's cohort is their first
    //     active week; count distinct users active at each week offset
    //     from their cohort — THE product-analytics retention triangle.
    //     Two user-keyed aggregates plus one (cohort, offset) rollup;
    //     the per-(user, week) activity set is dimension-bounded, so at
    //     100 TB the raw events reduce map-side before any shuffle.
    //     Offsets are exact integers (both week-truncs land on Monday,
    //     so the day gap is always a multiple of 7). ---
    "q48_retention_cohorts" -> { (s, dir) =>
      val uw = Tables(s, dir).events
        .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
        .distinct()
      val coh = uw.groupBy(col("user_id")).agg(min(col("w")).as("cw"))
      uw.join(coh, Seq("user_id"))
        .select(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
          expr("datediff(to_date(w), to_date(cw)) div 7").as("week_offset"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(count(lit(1)).as("n_users"))
    },

    // --- Ordered funnel conversion (view → click → purchase): a user
    //     advances a step only with an event STRICTLY AFTER their
    //     previous step's first completion — the classic time-ordered
    //     funnel, not a bag-of-events intersection. Three filtered
    //     user-keyed min-aggregates chained by user-keyed joins (each
    //     pass reads one event-type slice; partial aggregation is
    //     map-side); conversion in integer permille with nullif rails
    //     so an empty step yields NULL, not a division error. ---
    "q49_funnel_conversion" -> { (s, dir) =>
      val ev = Tables(s, dir).events
        .select(col("user_id"), col("ts"), col("event_type"))
      val t1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val t2 = ev.filter(col("event_type") === "click")
        .join(t1, Seq("user_id")).filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val t3 = ev.filter(col("event_type") === "purchase")
        .join(t2, Seq("user_id")).filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      t1.agg(count(lit(1)).as("n_view"))
        .crossJoin(t2.agg(count(lit(1)).as("n_click_after")))
        .crossJoin(t3.agg(count(lit(1)).as("n_purchase_after")))
        .select(col("n_view"), col("n_click_after"), col("n_purchase_after"),
          expr("n_click_after * 1000 div nullif(n_view, 0)").as("conv_click_permille"),
          expr("n_purchase_after * 1000 div nullif(n_click_after, 0)")
            .as("conv_purchase_permille"))
    },

    // --- Weekly active / new / churn: per week, the active user
    //     count, how many were NEW (their cohort week), and how many
    //     return the FOLLOWING week (retained) vs not (churned) — the
    //     growth-accounting decomposition. The week-over-week link is
    //     a user-keyed self-join of the bounded (user, week) activity
    //     set on wk+7, never a pass over raw events. ---
    "q50_weekly_churn" -> { (s, dir) =>
      val uw = Tables(s, dir).events
        .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
        .distinct()
      val coh = uw.groupBy(col("user_id")).agg(min(col("wk")).as("cw"))
      val nxt = uw.select(col("user_id"), col("wk").as("nwk"))
      uw.join(coh, Seq("user_id"))
        .join(nxt, uw("user_id") === nxt("user_id") &&
          nxt("nwk") === date_add(uw("wk"), 7), "left")
        .groupBy(date_format(uw("wk"), "yyyy-MM-dd").as("week"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(uw("wk") === col("cw"), 1L).otherwise(0L)).as("n_new"),
          sum(when(nxt("nwk").isNotNull, 1L).otherwise(0L)).as("n_retained_next"),
          sum(when(nxt("nwk").isNull, 1L).otherwise(0L)).as("n_churned_next"))
    },

    // --- Power-user (whale) share: users whose event count reaches
    //     the rank-based 90th-percentile count (ties included) and the
    //     share of ALL events they generate — the Pareto diagnostic
    //     behind abuse caps and sampling budgets. Scale shape: the
    //     per-user counts collapse into a COUNT HISTOGRAM (bounded by
    //     max events/user, never by user count) before any ranking;
    //     the threshold is a window walk over that bounded histogram
    //     (the d50 exact-quantile pattern) and joins back as a
    //     broadcast scalar. Integer permille. ---
    "q51_power_user_share" -> { (s, dir) =>
      val perUser = Tables(s, dir).events
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      val hist = perUser.groupBy(col("c")).agg(count(lit(1)).as("f"))
      val tot = perUser.agg(count(lit(1)).as("n_users"), sum(col("c")).as("n_events"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val thr = hist.withColumn("cum_users", sum(col("f")).over(w))
        .crossJoin(broadcast(tot))
        .filter(col("cum_users") * 10 >= col("n_users"))
        .agg(max(col("c")).as("threshold"))
      perUser.crossJoin(broadcast(thr)).crossJoin(broadcast(tot))
        .agg(first(col("n_users")).as("n_users"),
          first(col("n_events")).as("n_events"),
          first(col("threshold")).as("threshold"),
          sum(when(col("c") >= col("threshold"), 1L).otherwise(0L)).as("n_power_users"),
          sum(when(col("c") >= col("threshold"), col("c")).otherwise(0L)).as("power_events"))
        .select(col("n_users"), col("n_events"), col("threshold"),
          col("n_power_users"), col("power_events"),
          expr("power_events * 1000 div nullif(n_events, 0)").as("share_permille"))
    },

    // --- RFM segmentation: per customer recency (days since last
    //     order vs the corpus max date), frequency (order count) and
    //     monetary (lifetime cents), each MEDIAN-split by a rank
    //     threshold with ties included → 8 segments with counts and
    //     lifetime value. Scale shape: no global sort of customers —
    //     each threshold is a window walk over a BOUNDED value
    //     histogram (recency ≤ date span, frequency ≤ max orders per
    //     customer, monetary floor-quantized to $1000 buckets) and
    //     joins back as a broadcast scalar, the q51 pattern per
    //     dimension. Cents are per-row floor() integers so no float
    //     sum crosses engines. ---
    "q52_rfm_segments" -> { (s, dir) =>
      val o = Tables(s, dir).orders
      val maxd = o.agg(max(to_date(col("o_orderdate"))).as("maxd"))
      val per = o.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("f"),
          sum(floor(col("o_totalprice") * 100)).as("m_cents"),
          max(to_date(col("o_orderdate"))).as("lastd"))
        .crossJoin(broadcast(maxd))
        .select(col("o_custkey"), col("f"), col("m_cents"),
          expr("m_cents div 100000").as("m_bucket"),
          datediff(col("maxd"), col("lastd")).cast("long").as("r_days"))
      val kdf = per.agg(expr("(count(1) + 1) div 2").as("k"))
      def medianThreshold(dim: String, hiIsLow: Boolean): org.apache.spark.sql.DataFrame = {
        val dist = per.groupBy(col(dim)).agg(count(lit(1)).as("cnt"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(if (hiIsLow) col(dim).asc else col(dim).desc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val cum = dist.withColumn("cum", sum(col("cnt")).over(w))
          .crossJoin(broadcast(kdf)).filter(col("cum") >= col("k"))
        if (hiIsLow) cum.agg(min(col(dim)).as(s"t_$dim"))
        else cum.agg(max(col(dim)).as(s"t_$dim"))
      }
      per.crossJoin(broadcast(medianThreshold("r_days", hiIsLow = true)))
        .crossJoin(broadcast(medianThreshold("f", hiIsLow = false)))
        .crossJoin(broadcast(medianThreshold("m_bucket", hiIsLow = false)))
        .select(concat(
            when(col("r_days") <= col("t_r_days"), lit("R1")).otherwise(lit("R0")),
            when(col("f") >= col("t_f"), lit("F1")).otherwise(lit("F0")),
            when(col("m_bucket") >= col("t_m_bucket"), lit("M1")).otherwise(lit("M0")))
            .as("segment"),
          col("m_cents"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_customers"), sum(col("m_cents")).as("sum_m_cents"))
    },

    // --- Market-basket affinity: part pairs co-ordered at least
    //     MINSUP times, with lift in integer permille — the
    //     co-purchase signal behind recommendations. Scale shape:
    //     the ONLY pair stage is the order-keyed equi self-join, so
    //     the pair space is Σ(basket size)², bounded by the domain's
    //     small baskets, never |parts|²; the support filter prunes
    //     the singleton tail BEFORE the per-part count joins; the
    //     scalar order count attaches broadcast. ---
    "q53_basket_affinity" -> { (s, dir) =>
      // persisted: the distinct (order, part) frame feeds FIVE plan
      // references (both self-join sides, two part-count joins, the
      // order total) — without it each reference re-scans lineitem and
      // re-pays the distinct exchange (r17 continuation: 5 scans + 5
      // distinct aggregates in the after-plan; guide §5 "reused AND
      // recomputing is more expensive")
      val li = graft.operators.SketchRegistry.track(
        Tables(s, dir).lineitem
          .select(col("l_orderkey"), col("l_partkey")).distinct().persist())
      val pairs = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
        .agg(count(lit(1)).as("n_pair"))
        .filter(col("n_pair") >= 2)
      val partCounts = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_part"))
      val nOrders = li.select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).as("n_orders"))
      pairs
        .join(partCounts.select(col("l_partkey").as("part_a"),
          col("n_part").as("n_a")), Seq("part_a"))
        .join(partCounts.select(col("l_partkey").as("part_b"),
          col("n_part").as("n_b")), Seq("part_b"))
        .crossJoin(broadcast(nOrders))
        .select(col("part_a"), col("part_b"), col("n_pair"), col("n_a"), col("n_b"),
          expr("n_pair * n_orders * 1000 div (n_a * n_b)").as("lift_permille"))
    },

    // --- Shipping-delay SLA percentiles: per order priority, the
    //     exact p50/p90/p99 of ship-after-order days — the fulfilment
    //     health metric. Scale shape: the d50 exact-quantile pattern
    //     PER GROUP — delays collapse into a (priority, delay)
    //     histogram bounded by priorities × the delay span, the
    //     cumulative walk windows over that bounded histogram
    //     partitioned by priority (never over rows), and thresholds
    //     are rank-based integers (value at ceil(p·n/100), ties
    //     included) so no float percentile crosses engines. ---
    "q54_ship_delay_percentiles" -> { (s, dir) =>
      val delays = Tables(s, dir).lineitem
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(Tables(s, dir).orders
          .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("priority"),
          datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
            .cast("long").as("delay_days"))
      val hist = delays.groupBy(col("priority"), col("delay_days"))
        .agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("priority")).orderBy(col("delay_days").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
      val totals = hist.groupBy(col("priority")).agg(sum(col("cnt")).as("n"))
      def pct(p: Int): Column =
        min(when(col("cum") * 100 >= col("n") * p, col("delay_days")))
      cum.join(broadcast(totals), Seq("priority"))
        .groupBy(col("priority"))
        .agg(first(col("n")).as("n_lines"), pct(50).as("p50_days"),
          pct(90).as("p90_days"), pct(99).as("p99_days"))
    },

    // --- Event-value SLA percentiles: per event type, the exact
    //     p50/p90/p99 of the value metric quantized to integer cents
    //     (floor(value·100), the same per-row quantization both
    //     engines compute bit-identically) — the latency/size monitor
    //     read. Identical scale shape to q54: a (type, cents)
    //     histogram bounded by types × the value span, a per-type
    //     cumulative walk over it, rank-based thresholds with ties. ---
    "q55_value_percentiles" -> { (s, dir) =>
      val vals = Tables(s, dir).events
        .select(col("event_type"),
          floor(col("value") * 100).as("v_cents"))
      val hist = vals.groupBy(col("event_type"), col("v_cents"))
        .agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("v_cents").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
      val totals = hist.groupBy(col("event_type")).agg(sum(col("cnt")).as("n"))
      def pct(p: Int): Column =
        min(when(col("cum") * 100 >= col("n") * p, col("v_cents")))
      cum.join(broadcast(totals), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(first(col("n")).as("n_events"), pct(50).as("p50_cents"),
          pct(90).as("p90_cents"), pct(99).as("p99_cents"))
    },

    // --- Conversion attribution: every purchase credits the user's
    //     FIRST and LAST preceding touch (view/click/signup) in one
    //     (first_touch, last_touch) matrix with conversion counts and
    //     floor-cent revenue — first-touch and last-touch marketing
    //     attribution in a single pass. Scale shape: ONE shuffle on
    //     user_id for the carry-forward window (ignore-nulls first/
    //     last over a rows frame — no join against a touches table,
    //     no per-purchase range scan); error events are pruned AT THE
    //     SCAN by the pushed In filter; the final aggregate collapses
    //     to ≤ (touches+1)² groups with map-side partials. Ties at
    //     equal ts break by event_id, so a same-timestamp touch with
    //     a smaller id counts and a larger id does not — both engines
    //     apply the identical total order. ---
    "q56_attribution" -> { (s, dir) =>
      val ev = Tables(s, dir).events
        .filter(col("event_type").isin("view", "click", "signup", "purchase"))
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          floor(col("value") * 100).as("v_cents"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val touch = when(col("event_type") =!= "purchase", col("event_type"))
      ev.withColumn("ft", first(touch, ignoreNulls = true).over(w))
        .withColumn("lt", last(touch, ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("ft"), lit("none")).as("first_touch"),
          coalesce(col("lt"), lit("none")).as("last_touch"))
        .agg(count(lit(1)).as("n_conversions"), sum(col("v_cents")).as("sum_cents"))
    },

    // --- Session journey paths: sessionize on the q25 gap rule, read
    //     each session's first five event types in (ts, event_id)
    //     order as a '>'-joined path string, and keep paths taken by
    //     at least two sessions — the "common journeys" report. Scale
    //     shape: ONE user_id shuffle serves both windows (lag + the
    //     running session counter share partitioning AND ordering, so
    //     Catalyst plans a single Exchange/Sort) and the per-session
    //     collect is bounded by the session's own events with the
    //     path truncated to 5 steps, so path-group cardinality is
    //     ≤|types|⁵, never event volume; the ≥2 support filter prunes
    //     the long tail before any result materializes. ---
    "q57_session_paths" -> { (s, dir) =>
      val ord = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      val run = ord.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
      Tables(s, dir).events
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_ts", lag(col("ts"), 1).over(ord))
        .withColumn("ns", when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1)
          .otherwise(0))
        .withColumn("sess", sum(col("ns")).over(run))
        .groupBy(col("user_id"), col("sess"))
        .agg(
          array_join(slice(transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))), x => x.getField("event_type")),
            1, 5), ">").as("path"),
          count(lit(1)).as("n_ev"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("n_ev")).as("n_events"))
        .filter(col("n_sessions") >= 2)
    },

    // --- DAU/WAU stickiness: per observed day, distinct daily actives
    //     over distinct trailing-7-day actives, in integer permille —
    //     the engagement ratio every product dashboard carries. Scale
    //     shape (the q42/d42 trick on days): collapse to DISTINCT
    //     (user, day) FIRST (the volume reducer), explode each into
    //     the ≤7 window-end days it serves, ONE distinct on (t, user)
    //     — never a per-day range scan over raw events — and restrict
    //     window ends to observed days via a BROADCAST day-list join
    //     (bounded by the date span). Integer permille: no float
    //     ratio crosses engines. ---
    "q58_stickiness" -> { (s, dir) =>
      val ud = Tables(s, dir).events
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val days = ud.select(col("day")).distinct()
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"),
          explode(sequence(col("day"), date_add(col("day"), 6))).as("t"))
        .distinct()
        .join(broadcast(days.select(col("day").as("t"))), Seq("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("wau"))
      dau.join(wau, col("day") === col("t"))
        .select(col("day"), col("dau"), col("wau"),
          expr("dau * 1000 div wau").as("stickiness_permille"))
    },

    // --- CEP-lite pattern counting (MATCH_RECOGNIZE territory —
    //     Flink/Trino have it, Spark doesn't): each user's event
    //     history becomes an initial-letter sequence string in
    //     (ts, event_id) order, and conversion patterns are counted
    //     as non-overlapping regex matches — 'vc+p' (view → clicks →
    //     purchase) and 'v[cs]+p' (assisted: clicks or signups
    //     between). Both patterns have DETERMINISTIC match extents
    //     (a maximal middle run then a forced terminal), so Java's
    //     backtracking and RE2's automaton agree match-for-match.
    //     Scale shape: one user_id shuffle for the ordered collect;
    //     per-user history is bounded by the retention window and the
    //     500-step cap bounds every regex input; the regex itself is
    //     map-side. ---
    "q59_pattern_cep" -> { (s, dir) =>
      val ev = Tables(s, dir).events
        .select(col("user_id"), col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("ch"))
      ev.groupBy(col("user_id"))
        .agg(substring(array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("ch")))),
          x => x.getField("ch")), ""), 1, 500).as("seq"))
        .select(col("user_id"),
          length(col("seq")).cast("long").as("seq_len"),
          regexp_count(col("seq"), lit("vc+p")).cast("long").as("n_direct"),
          regexp_count(col("seq"), lit("v[cs]+p")).cast("long").as("n_assisted"))
    },

    // --- Seasonal-baseline anomaly: q40's global hourly z-flag calls
    //     EVERY rush hour anomalous; the seasonal profile compares
    //     each (type, hour) count against the mean for that HOUR OF
    //     DAY (the daily-rhythm baseline every monitoring stack
    //     computes). Integer gates — spike when n·H > 2·S, dip when
    //     2·n·H < S over the hour-of-day's observed total S and hour
    //     count H — so no float mean crosses engines. Two bounded
    //     aggregates; the type×24 profile joins back BROADCAST. ---
    "q46_seasonal_anomaly" -> { (s, dir) =>
      val hrs = Tables(s, dir).events
        .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("n_events"))
      val prof = hrs
        .groupBy(col("event_type"), hour(col("h")).as("hod"))
        .agg(sum(col("n_events")).as("s_tot"), count(lit(1)).as("n_hours"))
      hrs.withColumn("hod", hour(col("h")))
        .join(broadcast(prof), Seq("event_type", "hod"))
        .select(col("event_type"),
          date_format(col("h"), "yyyy-MM-dd HH").as("hour"),
          col("hod"), col("n_events"),
          (col("n_events") * col("n_hours") > col("s_tot") * 2L).as("is_spike"),
          (col("n_events") * col("n_hours") * 2L < col("s_tot")).as("is_dip"))
    }
  )

  /** q34's densified hourly series — shared with q35's rolling window. */
  private def gapfilledHourly(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables(s, dir).events
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("n"))
    val spans = hourly.groupBy(col("event_type"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    spans
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
      .join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"),
        date_format(col("h"), "yyyy-MM-dd HH").as("hour"),
        coalesce(col("n"), lit(0L)).as("n_events"))
  }

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
         count(*) AS count_order,
         min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus""",
    "q02_filter_project" ->
      """SELECT p_partkey, p_brand, p_type, p_retailprice FROM part
         WHERE p_size <= 15 AND p_type IN ('ECONOMY','PROMO')""",
    "q03_top_revenue_orders" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1996-01-01'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""",
    "q04_exists_semijoin" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
         GROUP BY o_orderpriority""",
    "q05_nation_revenue" ->
      """SELECT n_name, r_name,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY n_name, r_name""",
    "q06_forecast_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
         count(*) AS n_lines
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "q07_outer_join_agg" ->
      """SELECT c_mktsegment,
         count(DISTINCT c_custkey) AS n_customers,
         count(o_orderkey) AS n_orders,
         count(DISTINCT CASE WHEN o_orderkey IS NULL THEN c_custkey END) AS n_inactive
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_mktsegment""",
    "q08_window_rank" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal, CAST(rnk AS INT) AS rnk FROM (
           SELECT c_mktsegment, c_custkey, c_acctbal,
             rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
           FROM customer) WHERE rnk <= 3""",
    "q09_running_total" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
         FROM orders WHERE o_custkey < 50""",
    "q10_rollup" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
         CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
         CAST(GROUPING(o_orderstatus) AS INT) AS g_status
         FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""",
    "q11_cube" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "q12_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""",
    "q13_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""",
    "q14_distinct_agg" ->
      """SELECT l_returnflag,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT l_partkey) AS n_part,
         count(*) AS n_lines
         FROM lineitem GROUP BY l_returnflag""",
    "q15_case_string" ->
      """SELECT CASE WHEN p_retailprice < 950 THEN 'LOW'
                     WHEN p_retailprice < 1050 THEN 'MID'
                     ELSE 'HIGH' END AS tier,
         upper(substr(p_name, 1, 5)) AS name_head, count(*) AS n
         FROM part
         WHERE p_name LIKE '%bolt%' OR p_name LIKE '%widget%'
         GROUP BY 1, 2""",
    "q16_date_agg" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year, CAST(month(o_orderdate) AS INT) AS o_month,
         count(*) AS n_orders, CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
         FROM orders GROUP BY 1, 2""",
    "q17_scalar_subquery" ->
      """SELECT p_brand, count(*) AS n_big_parts FROM part
         WHERE p_size > (SELECT avg(p_size) FROM part)
         GROUP BY p_brand""",
    "q18_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""",
    "q19_json_extract" ->
      """SELECT event_type,
         CAST(sum(CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
         count(*) AS n
         FROM events GROUP BY event_type""",
    "q20_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
         count(*) AS n, CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""",
    "q21_union_all" ->
      """SELECT k % 10 AS bucket, count(*) AS n, CAST(sum(v) AS DOUBLE) AS total FROM (
           SELECT l_orderkey AS k, CAST(l_extendedprice AS DECIMAL(12,2)) AS v
           FROM lineitem WHERE l_returnflag = 'R'
           UNION ALL
           SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(12,2)) AS v
           FROM orders WHERE o_orderstatus = 'F')
         GROUP BY 1""",
    "q22_antijoin" ->
      """SELECT c_mktsegment, count(*) AS n_no_urgent FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         GROUP BY c_mktsegment""",
    "q23_range_join" ->
      """SELECT o_orderpriority, count(*) AS n_fast FROM orders
         JOIN (SELECT l_orderkey, min(l_shipdate) AS first_ship FROM lineitem GROUP BY l_orderkey) li
           ON o_orderkey = li.l_orderkey
          AND first_ship > o_orderdate
          AND first_ship <= CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS TIMESTAMP)
         GROUP BY o_orderpriority""",
    "q24_groupwise_above_avg" ->
      """SELECT p_brand, count(*) AS n_above FROM part p
         JOIN (SELECT p_brand AS b, avg(p_size) AS avg_size FROM part GROUP BY 1) a
           ON p.p_brand = a.b
         WHERE p_size > avg_size
         GROUP BY p_brand""",
    "q27_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         CAST(grouping(o_orderstatus) AS INT) AS g_status,
         CAST(grouping(o_orderpriority) AS INT) AS g_priority
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
           (o_orderstatus, o_orderpriority))""",
    "q28_window_analytics" ->
      """SELECT c_custkey, c_mktsegment, CAST(quartile AS INT) AS quartile,
         pct_rank, next_bal, seg_min FROM (
           SELECT c_custkey, c_mktsegment,
             ntile(4) OVER w AS quartile,
             percent_rank() OVER w AS pct_rank,
             lead(c_acctbal, 1) OVER w AS next_bal,
             first_value(c_acctbal) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_min
           FROM customer
           WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC))
         WHERE c_custkey <= 100""",
    "q29_lateral_explode" ->
      """SELECT word, count(*) AS n, count(DISTINCT p_partkey) AS n_parts
         FROM (SELECT p_partkey, unnest(string_split(p_type, ' ')) AS word FROM part)
         GROUP BY word""",
    "q30_pivot" ->
      """SELECT o_orderpriority,
         CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
         CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_partial
         FROM orders GROUP BY o_orderpriority""",
    "q26_approx_sketches" ->
      """SELECT o_orderpriority,
         CASE WHEN abs(approx_nd - exact_nd) <= exact_nd * 0.1 THEN 'ok' ELSE 'off' END AS nd_check,
         CASE WHEN abs(approx_p50 - exact_p50) <= exact_p50 * 0.1 THEN 'ok' ELSE 'off' END AS p50_check
         FROM (SELECT o_orderpriority,
                 count(DISTINCT o_custkey) AS exact_nd,
                 approx_count_distinct(o_custkey) AS approx_nd,
                 approx_quantile(o_totalprice, 0.5) AS approx_p50,
                 quantile_cont(o_totalprice, 0.5) AS exact_p50
               FROM orders GROUP BY o_orderpriority)""",
    "q25_sessionize" ->
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
           SELECT user_id,
             CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_session
           FROM (
             SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
             FROM events))
         GROUP BY user_id""",
    "q31_asof_join" ->
      """WITH views AS (
           SELECT user_id, ts, max(event_id) AS view_id, ts AS view_ts
           FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
         clicks AS (
           SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'click')
         SELECT c.event_id, c.user_id, c.value, v.view_id,
           epoch_us(c.ts) - epoch_us(v.view_ts) AS latency_us
         FROM clicks c ASOF LEFT JOIN views v
           ON c.user_id = v.user_id AND c.ts >= v.ts""",
    "q32_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e
                 JOIN v USING (user_id)
               WHERE e.event_type = 'click' AND e.ts > v.v_ts
               GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
                 JOIN c USING (user_id)
               WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
               GROUP BY e.user_id)
         SELECT (SELECT count(*) FROM v) AS n_view,
                (SELECT count(*) FROM c) AS n_view_click,
                (SELECT count(*) FROM p) AS n_view_click_purchase""",
    "q33_retention" ->
      """WITH cohort AS (
           SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
           FROM events GROUP BY user_id)
         SELECT c.cohort_date,
           CAST(date_diff('day', c.cohort_date, CAST(e.ts AS DATE)) AS INT) AS day_offset,
           count(DISTINCT e.user_id) AS n_active
         FROM events e JOIN cohort c USING (user_id)
         WHERE date_diff('day', c.cohort_date, CAST(e.ts AS DATE)) <= 6
         GROUP BY 1, 2""",
    // Mirror of q34: both engines build the hour grid with an
    // inclusive 1-hour series over each type's aggregated span.
    "q34_gapfill" ->
      """WITH hourly AS (
           SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
           FROM events GROUP BY 1, 2),
         spans AS (
           SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
         grid AS (
           SELECT s.event_type,
             UNNEST(generate_series(s.h0, s.h1, INTERVAL 1 HOUR)) AS h
           FROM spans s)
         SELECT g.event_type, strftime(g.h, '%Y-%m-%d %H') AS hour,
           CAST(coalesce(hh.n, 0) AS BIGINT) AS n_events
         FROM grid g LEFT JOIN hourly hh USING (event_type, h)""",
    // Mirror of q35: the q34 chain plus the identical 7-row trailing
    // frame; integer window sums, one double division.
    "q35_rolling_avg" ->
      """WITH hourly AS (
           SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
           FROM events GROUP BY 1, 2),
         spans AS (
           SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
         grid AS (
           SELECT s.event_type,
             UNNEST(generate_series(s.h0, s.h1, INTERVAL 1 HOUR)) AS h
           FROM spans s),
         filled AS (
           SELECT g.event_type, strftime(g.h, '%Y-%m-%d %H') AS hour,
             CAST(coalesce(hh.n, 0) AS BIGINT) AS n_events
           FROM grid g LEFT JOIN hourly hh USING (event_type, h))
         SELECT event_type, hour, n_events,
           CAST(CAST(sum(n_events) OVER w AS BIGINT) AS DOUBLE)
             / CAST(count(*) OVER w AS DOUBLE) AS avg7
         FROM filled
         WINDOW w AS (PARTITION BY event_type ORDER BY hour
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""",
    // Mirror of q36: same (ts, event_id) window order, same integer
    // centi-value × microsecond-duration terms, one double division.
    "q36_time_weighted_avg" ->
      """WITH x AS (
           SELECT event_type, event_id, value, epoch_us(ts) AS t,
             lead(epoch_us(ts)) OVER (PARTITION BY event_type
               ORDER BY epoch_us(ts), event_id) - epoch_us(ts) AS dur_us
           FROM events)
         SELECT event_type, count(*) AS n_events,
           CAST(CAST(sum(CAST(floor(value * 100) AS BIGINT) * dur_us) AS BIGINT) AS DOUBLE)
             / CAST(nullif((max(t) - min(t)) * 100, 0) AS DOUBLE) AS twa
         FROM x GROUP BY 1""",
    // Mirror of q37: identical full-frame window for open/close, raw
    // min/max values otherwise (no float summation in the contract).
    "q37_ohlc" ->
      """WITH x AS (
           SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hr,
             value,
             first_value(value) OVER w AS open, last_value(value) OVER w AS close
           FROM events
           WINDOW w AS (PARTITION BY event_type, date_trunc('hour', ts)
                        ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
         SELECT event_type, hr, max(open) AS open, max(value) AS high,
           min(value) AS low, max(close) AS close, count(*) AS n_events
         FROM x GROUP BY 1, 2""",
    // Mirror of q38: the earliest same-user purchase at-or-after each
    // view within the hour bound; arg_min picks its value (ts are
    // globally unique in the fixture, and the operator's contract
    // requires unique right (key, time) anyway).
    "q38_asof_forward" ->
      """WITH v AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'view'),
           p AS (SELECT user_id, ts, value FROM events
                 WHERE event_type = 'purchase')
         SELECT v.event_id, v.user_id,
           arg_min(p.value, p.ts) AS next_value,
           epoch_us(min(p.ts)) - epoch_us(v.ts) AS wait_us
         FROM v LEFT JOIN p
           ON p.user_id = v.user_id AND p.ts >= v.ts
              AND p.ts <= v.ts + INTERVAL 1 HOUR
         GROUP BY v.event_id, v.user_id, v.ts""",
    // Mirror of q39: the same (t, event_id)-ordered lag per
    // (user, type), integer microsecond comparison.
    "q39_debounce" ->
      """SELECT event_id, user_id, event_type,
           (prev_t IS NULL OR t - prev_t > 60000000) AS keep
         FROM (SELECT event_id, user_id, event_type, epoch_us(ts) AS t,
                 lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                   ORDER BY epoch_us(ts), event_id) AS prev_t
               FROM events)""",
    // Mirror of q40: the q34 grid chain, then the same integer z²
    // inequality — (n·N − S)² > 9·(N·Q − S²) — no doubles anywhere.
    "q40_hourly_anomaly" ->
      """WITH hourly AS (
           SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
           FROM events GROUP BY 1, 2),
         spans AS (
           SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
         grid AS (
           SELECT s.event_type,
             UNNEST(generate_series(s.h0, s.h1, INTERVAL 1 HOUR)) AS h
           FROM spans s),
         filled AS (
           SELECT g.event_type, strftime(g.h, '%Y-%m-%d %H') AS hour,
             CAST(coalesce(hh.n, 0) AS BIGINT) AS n_events
           FROM grid g LEFT JOIN hourly hh USING (event_type, h)),
         stats AS (
           SELECT event_type, count(*) AS n_hours,
             CAST(sum(n_events) AS BIGINT) AS s,
             CAST(sum(n_events * n_events) AS BIGINT) AS q
           FROM filled GROUP BY 1)
         SELECT f.event_type, f.hour, f.n_events,
           (f.n_events * st.n_hours - st.s) * (f.n_events * st.n_hours - st.s)
             > 9 * (st.n_hours * st.q - st.s * st.s) AS is_anomaly
         FROM filled f JOIN stats st USING (event_type)""",
    // Mirror of q41: identical grid chain, expanding ROWS frame ending
    // 1 PRECEDING, the same integer z² inequality over cumulative
    // N/S/Q (false AND NULL = false on the first two hours).
    "q41_running_anomaly" ->
      """WITH hourly AS (
           SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
           FROM events GROUP BY 1, 2),
         spans AS (
           SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
         grid AS (
           SELECT s.event_type,
             UNNEST(generate_series(s.h0, s.h1, INTERVAL 1 HOUR)) AS h
           FROM spans s),
         filled AS (
           SELECT g.event_type, strftime(g.h, '%Y-%m-%d %H') AS hour,
             CAST(coalesce(hh.n, 0) AS BIGINT) AS n_events
           FROM grid g LEFT JOIN hourly hh USING (event_type, h)),
         cum AS (
           SELECT event_type, hour, n_events,
             count(*) OVER w AS n_prior,
             CAST(sum(n_events) OVER w AS BIGINT) AS s,
             CAST(sum(n_events * n_events) OVER w AS BIGINT) AS q
           FROM filled
           WINDOW w AS (PARTITION BY event_type ORDER BY hour
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         SELECT event_type, hour, n_events,
           (n_prior > 1 AND
            (n_events * n_prior - s) * (n_events * n_prior - s)
              > 9 * (n_prior * q - s * s)) AS is_anomaly
         FROM cum""",

    // Mirror of q42: dedupe to (hour, user), explode each pair into the
    // 3 trailing-window buckets it serves, restrict to hours present in
    // the data, count distinct users per hour.
    "q42_sliding_distinct" ->
      """WITH hu AS (
           SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events),
         c AS (
           SELECT h + (k * INTERVAL 1 HOUR) AS h, user_id
           FROM hu, unnest([0, 1, 2]) t(k)),
         hrs AS (SELECT DISTINCT h FROM hu)
         SELECT strftime(c.h, '%Y-%m-%d %H') AS hour,
           count(DISTINCT c.user_id) AS active_3h
         FROM c JOIN hrs USING (h)
         GROUP BY 1""",

    // Mirror of q43: quantile_cont shares Spark percentile's
    // lower + (upper − lower)·frac interpolation (bit-identical on
    // doubles).
    "q43_exact_quantiles" ->
      """SELECT event_type,
           quantile_cont(value, 0.5) AS median_value,
           quantile_cont(value, 0.9) AS p90_value,
           count(*) AS n_events
         FROM events GROUP BY 1""",

    // Mirror of q44: the struct-max pick equals "latest ts, event_id
    // breaking ties" (event_id is unique, so later struct fields never
    // decide).
    "q44_latest_event" ->
      """SELECT user_id, epoch_us(ts) AS last_ts_us, event_id, event_type,
           value AS last_value
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS r FROM events)
         WHERE r = 1""",

    // Mirror of q45 via the CUSUM closed form: the recursive
    // S_i = max(0, S_{i-1} + d_i) equals P_i − min(0, min_{j≤i} P_j)
    // over the prefix sums P of d = n − ref, so the oracle replays the
    // fold with two integer window passes instead of a lambda fold
    // (DuckDB's struct-accumulator list_reduce mis-evaluates one field;
    // the closed form is independently checked against a plain-Python
    // fold anyway).
    "q45_cusum_alarm" ->
      """WITH hourly AS (
           SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
           FROM events GROUP BY 1, 2),
         spans AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
         grid AS (SELECT s.event_type,
             UNNEST(generate_series(s.h0, s.h1, INTERVAL 1 HOUR)) AS h
           FROM spans s),
         filled AS (
           SELECT g.event_type, g.h, CAST(coalesce(hh.n, 0) AS BIGINT) AS n
           FROM grid g LEFT JOIN hourly hh USING (event_type, h)),
         tot AS (SELECT event_type,
             CAST(sum(n) AS BIGINT) // count(*) + 2 AS ref
           FROM filled GROUP BY 1),
         cum AS (
           SELECT f.event_type, t.ref, f.h,
             CAST(sum(f.n - t.ref) OVER (PARTITION BY f.event_type ORDER BY f.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
           FROM filled f JOIN tot t USING (event_type)),
         s AS (
           SELECT event_type, ref,
             p - least(CAST(0 AS BIGINT),
               min(p) OVER (PARTITION BY event_type ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum
           FROM cum)
         SELECT event_type, ref,
           CAST(sum(CASE WHEN cusum >= 6 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alarm_hours,
           CAST(max(cusum) AS BIGINT) AS max_cusum
         FROM s GROUP BY 1, 2""",
    // Mirror of q47: the same per-user (ts, event_id) lag chain, the
    // same pair rollup and integer permille shares.
    "q47_transition_matrix" ->
      """WITH st AS (
           SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev_type
           FROM events),
         pairs AS (
           SELECT prev_type, event_type AS next_type, count(*) AS n_steps
           FROM st WHERE prev_type IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT prev_type, sum(n_steps) AS n_out FROM pairs GROUP BY 1)
         SELECT p.prev_type, p.next_type, CAST(p.n_steps AS BIGINT) AS n_steps,
           CAST(p.n_steps * 1000 // t.n_out AS BIGINT) AS share_permille
         FROM pairs p JOIN tot t USING (prev_type)""",

    // Mirror of q48: the same Monday-truncated weeks, first-week
    // cohorts, and exact day-gap/7 offsets.
    "q48_retention_cohorts" ->
      """WITH uw AS (
           SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events),
         coh AS (SELECT user_id, min(w) AS cw FROM uw GROUP BY 1)
         SELECT strftime(c.cw, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', CAST(c.cw AS DATE), CAST(u.w AS DATE)) // 7
             AS BIGINT) AS week_offset,
           CAST(count(*) AS BIGINT) AS n_users
         FROM uw u JOIN coh c USING (user_id)
         GROUP BY 1, 2""",
    // Mirror of q49: the same strictly-after step chaining and nullif-
    // guarded integer permille conversions.
    "q49_funnel_conversion" ->
      """WITH t1 AS (
           SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY 1),
         t2 AS (
           SELECT e.user_id, min(e.ts) AS t2 FROM events e
           JOIN t1 ON e.user_id = t1.user_id
           WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
         t3 AS (
           SELECT e.user_id, min(e.ts) AS t3 FROM events e
           JOIN t2 ON e.user_id = t2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1)
         SELECT
           CAST((SELECT count(*) FROM t1) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM t2) AS BIGINT) AS n_click_after,
           CAST((SELECT count(*) FROM t3) AS BIGINT) AS n_purchase_after,
           CAST((SELECT count(*) FROM t2) * 1000
             // nullif((SELECT count(*) FROM t1), 0) AS BIGINT)
             AS conv_click_permille,
           CAST((SELECT count(*) FROM t3) * 1000
             // nullif((SELECT count(*) FROM t2), 0) AS BIGINT)
             AS conv_purchase_permille""",
    // Mirror of q50: the same bounded (user, week) activity set,
    // first-week cohorts, and the wk+7 self-join for retention.
    "q50_weekly_churn" ->
      """WITH uw AS (
           SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
         coh AS (SELECT user_id, min(wk) AS cw FROM uw GROUP BY 1)
         SELECT strftime(u.wk, '%Y-%m-%d') AS week,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(sum(CASE WHEN u.wk = c.cw THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(sum(CASE WHEN n.user_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_retained_next,
           CAST(sum(CASE WHEN n.user_id IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_churned_next
         FROM uw u
         JOIN coh c ON u.user_id = c.user_id
         LEFT JOIN uw n ON n.user_id = u.user_id AND n.wk = u.wk + 7
         GROUP BY 1""",

    // Mirror of q51: the same count histogram, the same descending
    // cumulative rank threshold with ties included, integer permille.
    "q51_power_user_share" ->
      """WITH pu AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
         hist AS (SELECT c, count(*) AS f FROM pu GROUP BY 1),
         tot AS (SELECT count(*) AS n_users, sum(c) AS n_events FROM pu),
         cum AS (
           SELECT c, sum(f) OVER (ORDER BY c DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_users
           FROM hist),
         thr AS (
           SELECT max(c) AS threshold FROM cum, tot
           WHERE cum_users * 10 >= n_users)
         SELECT CAST(t.n_users AS BIGINT) AS n_users,
           CAST(t.n_events AS BIGINT) AS n_events,
           CAST(th.threshold AS BIGINT) AS threshold,
           CAST(sum(CASE WHEN pu.c >= th.threshold THEN 1 ELSE 0 END)
             AS BIGINT) AS n_power_users,
           CAST(sum(CASE WHEN pu.c >= th.threshold THEN pu.c ELSE 0 END)
             AS BIGINT) AS power_events,
           CAST(sum(CASE WHEN pu.c >= th.threshold THEN pu.c ELSE 0 END)
             * 1000 // nullif(t.n_events, 0) AS BIGINT) AS share_permille
         FROM pu, tot t, thr th
         GROUP BY t.n_users, t.n_events, th.threshold""",

    // Mirror of q52: the same per-customer RFM triple (floor-cent
    // integers), the same three bounded-histogram cumulative medians
    // with ties included, the same 8-way segment labels.
    "q52_rfm_segments" ->
      """WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
         per AS (
           SELECT o_custkey, count(*) AS f,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS m_cents,
             max(CAST(o_orderdate AS DATE)) AS lastd
           FROM orders GROUP BY 1),
         per2 AS (
           SELECT o_custkey, f, m_cents, m_cents // 100000 AS m_bucket,
             date_diff('day', lastd, maxd) AS r_days
           FROM per, mx),
         k AS (SELECT (count(*) + 1) // 2 AS k FROM per2),
         rt AS (SELECT min(r_days) AS t FROM (
             SELECT r_days, sum(cnt) OVER (ORDER BY r_days ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             FROM (SELECT r_days, count(*) AS cnt FROM per2 GROUP BY 1)), k
           WHERE cum >= k.k),
         ft AS (SELECT max(f) AS t FROM (
             SELECT f, sum(cnt) OVER (ORDER BY f DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             FROM (SELECT f, count(*) AS cnt FROM per2 GROUP BY 1)), k
           WHERE cum >= k.k),
         mt AS (SELECT max(m_bucket) AS t FROM (
             SELECT m_bucket, sum(cnt) OVER (ORDER BY m_bucket DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             FROM (SELECT m_bucket, count(*) AS cnt FROM per2 GROUP BY 1)), k
           WHERE cum >= k.k)
         SELECT (CASE WHEN p.r_days <= rt.t THEN 'R1' ELSE 'R0' END) ||
                (CASE WHEN p.f >= ft.t THEN 'F1' ELSE 'F0' END) ||
                (CASE WHEN p.m_bucket >= mt.t THEN 'M1' ELSE 'M0' END) AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(p.m_cents) AS BIGINT) AS sum_m_cents
         FROM per2 p, rt, ft, mt
         GROUP BY 1""",

    // Mirror of q53: the same distinct (order, part) basket set, the
    // same ordered-pair counts with the ≥2 support gate, integer lift.
    "q53_basket_affinity" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         pairs AS (
           SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS n_pair
           FROM li a JOIN li b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         pc AS (SELECT l_partkey, count(*) AS n_part FROM li GROUP BY 1),
         no AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li)
         SELECT p.part_a, p.part_b, CAST(p.n_pair AS BIGINT) AS n_pair,
           CAST(a.n_part AS BIGINT) AS n_a, CAST(b.n_part AS BIGINT) AS n_b,
           CAST(p.n_pair * no.n_orders * 1000 // (a.n_part * b.n_part)
             AS BIGINT) AS lift_permille
         FROM pairs p
         JOIN pc a ON a.l_partkey = p.part_a
         JOIN pc b ON b.l_partkey = p.part_b, no""",

    // Mirror of q54: the same (priority, delay) histogram, the same
    // per-priority ascending cumulative walk, the same rank-based
    // integer thresholds (min delay whose cum·100 ≥ n·p).
    "q54_ship_delay_percentiles" ->
      """WITH d AS (
           SELECT o.o_orderpriority AS priority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
               CAST(l.l_shipdate AS DATE)) AS delay_days
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         hist AS (
           SELECT priority, delay_days, count(*) AS cnt
           FROM d GROUP BY 1, 2),
         cum AS (
           SELECT priority, delay_days,
             sum(cnt) OVER (PARTITION BY priority ORDER BY delay_days ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM hist),
         tot AS (SELECT priority, sum(cnt) AS n FROM hist GROUP BY 1)
         SELECT c.priority, CAST(t.n AS BIGINT) AS n_lines,
           CAST(min(CASE WHEN c.cum * 100 >= t.n * 50 THEN c.delay_days END)
             AS BIGINT) AS p50_days,
           CAST(min(CASE WHEN c.cum * 100 >= t.n * 90 THEN c.delay_days END)
             AS BIGINT) AS p90_days,
           CAST(min(CASE WHEN c.cum * 100 >= t.n * 99 THEN c.delay_days END)
             AS BIGINT) AS p99_days
         FROM cum c JOIN tot t USING (priority)
         GROUP BY c.priority, t.n""",

    // Mirror of q55: the same floor-cents quantization, the same
    // per-type bounded-histogram walk and rank thresholds.
    "q55_value_percentiles" ->
      """WITH v AS (
           SELECT event_type,
             CAST(floor(value * 100) AS BIGINT) AS v_cents
           FROM events),
         hist AS (
           SELECT event_type, v_cents, count(*) AS cnt
           FROM v GROUP BY 1, 2),
         cum AS (
           SELECT event_type, v_cents,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY v_cents ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM hist),
         tot AS (SELECT event_type, sum(cnt) AS n FROM hist GROUP BY 1)
         SELECT c.event_type, CAST(t.n AS BIGINT) AS n_events,
           CAST(min(CASE WHEN c.cum * 100 >= t.n * 50 THEN c.v_cents END)
             AS BIGINT) AS p50_cents,
           CAST(min(CASE WHEN c.cum * 100 >= t.n * 90 THEN c.v_cents END)
             AS BIGINT) AS p90_cents,
           CAST(min(CASE WHEN c.cum * 100 >= t.n * 99 THEN c.v_cents END)
             AS BIGINT) AS p99_cents
         FROM cum c JOIN tot t USING (event_type)
         GROUP BY c.event_type, t.n""",

    // Mirror of q56: the same (ts, event_id) total order, the same
    // ignore-nulls carry of first/last touch, the same floor-cent sums.
    "q56_attribution" ->
      """WITH ev AS (
           SELECT user_id, ts, event_id, event_type,
             CAST(floor(value * 100) AS BIGINT) AS v_cents,
             CASE WHEN event_type <> 'purchase' THEN event_type END AS touch
           FROM events
           WHERE event_type IN ('view', 'click', 'signup', 'purchase')),
         attr AS (
           SELECT event_type, v_cents,
             first_value(touch IGNORE NULLS) OVER w AS ft,
             last_value(touch IGNORE NULLS) OVER w AS lt
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT coalesce(ft, 'none') AS first_touch,
           coalesce(lt, 'none') AS last_touch,
           count(*) AS n_conversions,
           CAST(sum(v_cents) AS BIGINT) AS sum_cents
         FROM attr WHERE event_type = 'purchase'
         GROUP BY 1, 2""",

    // Mirror of q57: the same gap rule as q25, the same (ts, event_id)
    // in-session order, the same 5-step truncation and ≥2 support.
    "q57_session_paths" ->
      """WITH o AS (
           SELECT user_id, ts, event_id, event_type,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
           FROM events),
         f AS (
           SELECT *, CASE WHEN prev_ts IS NULL
             OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS ns
           FROM o),
         s AS (
           SELECT *, sum(ns) OVER (PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
           FROM f),
         p AS (
           SELECT user_id, sess,
             array_to_string(
               (list(event_type ORDER BY ts, event_id))[1:5], '>') AS path,
             count(*) AS n_ev
           FROM s GROUP BY 1, 2)
         SELECT path, count(*) AS n_sessions,
           CAST(sum(n_ev) AS BIGINT) AS n_events
         FROM p GROUP BY 1 HAVING count(*) >= 2""",

    // Mirror of q58: the same distinct-(user, day) collapse, the same
    // 7-day window-end explode, observed-day restriction, integer
    // permille.
    "q58_stickiness" ->
      """WITH ud AS (
           SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         days AS (SELECT DISTINCT day FROM ud),
         dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
         contrib AS (
           SELECT DISTINCT user_id, day + CAST(i AS INTEGER) AS t
           FROM ud, (SELECT unnest(generate_series(0, 6)) AS i)),
         wau AS (
           SELECT t, count(*) AS wau
           FROM contrib JOIN days ON contrib.t = days.day GROUP BY 1)
         SELECT d.day, CAST(d.dau AS BIGINT) AS dau,
           CAST(w.wau AS BIGINT) AS wau,
           d.dau * 1000 // w.wau AS stickiness_permille
         FROM dau d JOIN wau w ON w.t = d.day""",

    // Mirror of q59: the same (ts, event_id)-ordered letter sequence,
    // the same 500-step cap, the same deterministic-extent patterns
    // counted non-overlapping.
    "q59_pattern_cep" ->
      """WITH o AS (
           SELECT user_id, ts, event_id,
             substr(event_type, 1, 1) AS ch
           FROM events),
         s AS (
           SELECT user_id,
             substr(string_agg(ch, '' ORDER BY ts, event_id), 1, 500)
               AS seq
           FROM o GROUP BY 1)
         SELECT user_id, CAST(len(seq) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(seq, 'vc+p')) AS BIGINT)
             AS n_direct,
           CAST(len(regexp_extract_all(seq, 'v[cs]+p')) AS BIGINT)
             AS n_assisted
         FROM s""",

    // Mirror of q46: the same hour-of-day profile over OBSERVED hours
    // and the same integer spike/dip gates.
    "q46_seasonal_anomaly" ->
      """WITH hrs AS (
           SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n_events
           FROM events GROUP BY 1, 2),
         prof AS (
           SELECT event_type, date_part('hour', h) AS hod,
             sum(n_events) AS s_tot, count(*) AS n_hours
           FROM hrs GROUP BY 1, 2)
         SELECT e.event_type,
           strftime(e.h, '%Y-%m-%d %H') AS hour,
           CAST(p.hod AS INT) AS hod,
           CAST(e.n_events AS BIGINT) AS n_events,
           e.n_events * p.n_hours > p.s_tot * 2 AS is_spike,
           e.n_events * p.n_hours * 2 < p.s_tot AS is_dip
         FROM hrs e JOIN prof p
           ON e.event_type = p.event_type AND date_part('hour', e.h) = p.hod"""
  )
}
