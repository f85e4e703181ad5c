package graft
package registry

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{RobustZ, TimeOps}
import graft.operators._
import QueryHelpers._

/** The relational family: queries whose programs read neither
  * `documents` nor `embeddings` (events, the TPC-H-style tables and the
  * market tables). Each record holds the Spark program and the DuckDB
  * SQL that checks it, with the registration comment above. */
private[graft] object RelationalQueries {

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  private def heatmapSql: String = {
    // Exact integer cell means (mirrors AggOps.weekdayHourHeatmap
    // exactCenti): centi-grid sum · 1000 // cell count, presented /1e5.
    val cols = (0 to 23).map(h =>
      s"""CAST(CAST(sum(CASE WHEN CAST(hour(ts) AS INTEGER) = $h
            THEN floor(value * 100 + 0.5) END) AS BIGINT) * 1000
          // NULLIF(count(CASE WHEN CAST(hour(ts) AS INTEGER) = $h THEN 1 END), 0)
          AS BIGINT) / 100000.0 AS h$h""").mkString(", ")
    s"SELECT CAST(isodow(ts) - 1 AS INTEGER) AS weekday, $cols FROM events " +
      "GROUP BY 1 ORDER BY weekday"
  }

  private def pivotAlignSql: String = {
    val cols = eventTypes.map(e =>
      s"""coalesce(CAST(CAST(sum(CASE WHEN event_type = '$e'
            THEN floor(value * 100 + 0.5) END) AS BIGINT) * 1000
          // NULLIF(count(CASE WHEN event_type = '$e' THEN 1 END), 0)
          AS BIGINT) / 100000.0, 0.0) AS $e""").mkString(", ")
    s"SELECT date_trunc('minute', ts) AS bucket, $cols FROM events GROUP BY 1 ORDER BY bucket"
  }

  val all: Seq[Query] = Seq(
    // A1 + P3/P19 (metrics.py:15-24): per-group metrics. Integer-exact:
    // quantity is integral and price/discount/tax sit on the centi grid,
    // so every sum is an exact long (the disc/charge products live on the
    // 1e-4/1e-6 grids — ≤1.1e11 per row, ≤2e16 per group at sf0.1, long
    // headroom to ~100× that; DECIMAL(38,0) is the petabyte upgrade) and
    // every mean is a truncated integer division. The old
    // round(sum/avg(double)) forms are the q108/q149 partition-order
    // hazard; k/10^s presentation divisions are one IEEE op on an exact
    // long — identical in every engine.
    Query("q01_pricing_summary", (s, d) => {
      t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          floor(col("l_quantity") + 0.5).as("q"),
          floor(col("l_extendedprice") * 100 + 0.5).as("ep"),
          floor(col("l_discount") * 100 + 0.5).as("dc"),
          floor(col("l_tax") * 100 + 0.5).as("tc"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("q")).as("sum_qty"),
             sum(col("ep")).as("__sbp"),
             sum(expr("ep * (100 - dc)")).as("__sdp"),
             sum(expr("ep * (100 - dc) * (100 + tc)")).as("__sch"),
             sum(col("dc")).as("__sdc"),
             count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
          expr("__sbp / 100.0d").as("sum_base_price"),
          expr("__sdp / 10000.0d").as("sum_disc_price"),
          expr("__sch / 1000000.0d").as("sum_charge"),
          expr("(sum_qty * 1000000 div count_order) / 1000000.0d").as("avg_qty"),
          expr("(__sbp * 1000 div count_order) / 100000.0d").as("avg_price"),
          expr("(__sdc * 10000 div count_order) / 1000000.0d").as("avg_disc"),
          col("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, oracleSql =
      """WITH v AS (SELECT l_returnflag, l_linestatus,
             CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS ep,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dc,
             CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS tc
           FROM lineitem),
         a AS (SELECT l_returnflag, l_linestatus,
             CAST(sum(q) AS BIGINT) AS sum_qty,
             CAST(sum(ep) AS BIGINT) AS sbp,
             CAST(sum(ep * (100 - dc)) AS BIGINT) AS sdp,
             CAST(sum(ep * (100 - dc) * (100 + tc)) AS BIGINT) AS sch,
             CAST(sum(dc) AS BIGINT) AS sdc,
             count(*) AS count_order
           FROM v GROUP BY 1, 2)
         SELECT l_returnflag, l_linestatus, sum_qty,
           sbp / 100.0 AS sum_base_price,
           sdp / 10000.0 AS sum_disc_price,
           sch / 1000000.0 AS sum_charge,
           CAST(sum_qty * 1000000 // count_order AS BIGINT) / 1000000.0 AS avg_qty,
           CAST(sbp * 1000 // count_order AS BIGINT) / 100000.0 AS avg_price,
           CAST(sdc * 10000 // count_order AS BIGINT) / 1000000.0 AS avg_disc,
           count_order
         FROM a ORDER BY l_returnflag, l_linestatus"""),

    // A1 exact shape (metrics.py): avg price / stddev / total volume.
    Query("q02_market_metrics", (s, d) =>
      AggOps.marketMetrics(t(s, d, "events"), "event_type", col("value"), col("value"),
        exactCenti = true), oracleSql =
      """WITH a AS (SELECT event_type,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sv,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
               * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sv2,
             count(*) AS n_rows
           FROM events GROUP BY 1)
         SELECT event_type,
           CAST(sv * 1000 // n_rows AS BIGINT) / 100000.0 AS avg_price,
           CASE WHEN n_rows > 1 THEN
             round(sqrt(CAST(n_rows * sv2 - sv * sv AS DOUBLE)
               / CAST(n_rows * (n_rows - 1) AS DOUBLE)) / 100, 6) END
             AS stddev_price,
           sv / 100.0 AS total_volume, n_rows
         FROM a ORDER BY event_type"""),

    // A2 + P12: daily summary.
    Query("q03_daily_summary", (s, d) =>
      AggOps.dailySummary(t(s, d, "events"), col("ts"), col("value"),
        exactCenti = true), oracleSql =
      """SELECT CAST(ts AS DATE) AS date,
         CAST(CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) * 1000
           // count(*) AS BIGINT) / 100000.0 AS avg_value,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
           AS sum_value,
         round(max(value), 6) AS max_value,
         count(*) AS n
         FROM events GROUP BY 1 ORDER BY date"""),

    // A3 + P13: monthly rollup.
    Query("q04_monthly_rollup", (s, d) =>
      AggOps.monthlyRollup(t(s, d, "events"), col("ts"), col("value"),
        exactCenti = true), oracleSql =
      """SELECT strftime(ts, '%Y-%m') AS month,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
           AS sum_value,
         count(*) AS n FROM events GROUP BY 1 ORDER BY month"""),

    // A4 + P10: hour-of-day profile.
    Query("q05_hour_profile", (s, d) =>
      AggOps.hourProfile(t(s, d, "events"), col("ts"), col("value"),
        exactCenti = true), oracleSql =
      """SELECT CAST(hour(ts) AS INTEGER) AS hour,
         CAST(CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) * 1000
           // count(*) AS BIGINT) / 100000.0 AS avg_value,
         count(*) AS n FROM events GROUP BY 1 ORDER BY hour"""),

    // A5 + P11: day-of-week profile in calendar order.
    Query("q06_dow_profile", (s, d) =>
      AggOps.dowProfile(t(s, d, "events"), col("ts"), col("value"),
        exactCenti = true), oracleSql =
      """SELECT CAST(isodow(ts) - 1 AS INTEGER) AS weekday, dayname(ts) AS weekday_name,
         CAST(CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) * 1000
           // count(*) AS BIGINT) / 100000.0 AS avg_value,
         count(*) AS n
         FROM events GROUP BY 1, 2 ORDER BY weekday"""),

    // A6: weekday × hour heat matrix (pivot).
    Query("q07_heatmap_pivot", (s, d) =>
      AggOps.weekdayHourHeatmap(t(s, d, "events"), col("ts"), col("value"),
        exactCenti = true), oracleSql = heatmapSql),

    // A7/A8: correlation scalars. Built from exact integer sums (grid
    // inputs: quantity integral, price/disc/tax centi) via the
    // n·Σxy−ΣxΣy identity in DECIMAL(38,0); only the terminal
    // divide-and-sqrt is float — the same IEEE ops on the same exact
    // integers in both engines — where corr() itself accumulates doubles
    // in partition order (the q108/q149 cross-engine class). corr is
    // scale-invariant, so the centi scales cancel.
    Query("q08_corr", (s, d) => {
      t(s, d, "lineitem")
        .select(floor(col("l_quantity") + 0.5).as("q"),
          floor(col("l_extendedprice") * 100 + 0.5).as("ep"),
          floor(col("l_discount") * 100 + 0.5).as("dc"),
          floor(col("l_tax") * 100 + 0.5).as("tc"))
        .agg(count(lit(1)).as("n"),
          sum(col("q")).as("sq"),
          sum(expr("CAST(q AS DECIMAL(38,0)) * q")).as("sqq"),
          sum(col("ep")).as("sp"),
          sum(expr("CAST(ep AS DECIMAL(38,0)) * ep")).as("spp"),
          sum(expr("CAST(q AS DECIMAL(38,0)) * ep")).as("sqp"),
          sum(col("dc")).as("sd"),
          sum(expr("CAST(dc AS DECIMAL(38,0)) * dc")).as("sdd"),
          sum(col("tc")).as("st"),
          sum(expr("CAST(tc AS DECIMAL(38,0)) * tc")).as("stt"),
          sum(expr("CAST(dc AS DECIMAL(38,0)) * tc")).as("sdt"))
        .select(
          round(
            expr("CAST(n * sqp - CAST(sq AS DECIMAL(38,0)) * sp AS DOUBLE)") /
            sqrt(expr("CAST(n * sqq - CAST(sq AS DECIMAL(38,0)) * sq AS DOUBLE)") *
                 expr("CAST(n * spp - CAST(sp AS DECIMAL(38,0)) * sp AS DOUBLE)")), 6)
            .as("corr_qty_price"),
          round(
            expr("CAST(n * sdt - CAST(sd AS DECIMAL(38,0)) * st AS DOUBLE)") /
            sqrt(expr("CAST(n * sdd - CAST(sd AS DECIMAL(38,0)) * sd AS DOUBLE)") *
                 expr("CAST(n * stt - CAST(st AS DECIMAL(38,0)) * st AS DOUBLE)")), 6)
            .as("corr_disc_tax"))
    }, oracleSql =
      // Exact integer sums + terminal divide-and-sqrt (mirrors the engine's
      // DECIMAL identity; corr() accumulates doubles in engine-specific order).
      """WITH v AS (SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS ep,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS dc,
             CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS tc
           FROM lineitem),
         a AS (SELECT count(*) AS n,
             sum(q) AS sq, sum(q * q) AS sqq,
             sum(ep) AS sp, sum(ep * ep) AS spp, sum(q * ep) AS sqp,
             sum(dc) AS sd, sum(dc * dc) AS sdd,
             sum(tc) AS st, sum(tc * tc) AS stt, sum(dc * tc) AS sdt
           FROM v)
         SELECT
           round(CAST(n * sqp - sq * sp AS DOUBLE)
             / sqrt(CAST(n * sqq - sq * sq AS DOUBLE)
                  * CAST(n * spp - sp * sp AS DOUBLE)), 6) AS corr_qty_price,
           round(CAST(n * sdt - sd * st AS DOUBLE)
             / sqrt(CAST(n * sdd - sd * sd AS DOUBLE)
                  * CAST(n * stt - st * st AS DOUBLE)), 6) AS corr_disc_tax
         FROM a"""),

    // A9/A10: overall summary with exact percentiles/median.
    Query("q09_overall_summary", (s, d) =>
      AggOps.overallSummary(t(s, d, "events"), col("value"), exactCenti = true), oracleSql =
      """SELECT CAST(CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) * 1000
           // count(*) AS BIGINT) / 100000.0 AS avg_value,
         round(median(value), 6) AS median_value,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
           AS sum_value,
         count(*) AS n,
         round(quantile_cont(value, 0.95), 6) AS p95,
         round(quantile_cont(value, 0.99), 6) AS p99
         FROM events"""),

    // A11/S10: distinct + sort.
    Query("q10_distinct_types", (s, d) =>
      t(s, d, "events").select(col("event_type")).distinct().orderBy(col("event_type")), oracleSql =
      "SELECT DISTINCT event_type FROM events ORDER BY event_type"),

    // A12: coverage / gap counting.
    Query("q11_coverage", (s, d) =>
      AggOps.coverage(t(s, d, "events"), col("ts")), oracleSql =
      """SELECT min(ts) AS min_ts, max(ts) AS max_ts, count(*) AS n_rows,
         count(DISTINCT date_trunc('minute', ts)) AS n_minutes,
         CAST(floor(date_diff('second', min(ts), max(ts)) / 60) + 1 AS BIGINT) AS expected_minutes,
         CAST(floor(date_diff('second', min(ts), max(ts)) / 60) + 1 AS BIGINT)
           - count(DISTINCT date_trunc('minute', ts)) AS missing_minutes
         FROM events"""),

    // A13/A16: table stats.
    Query("q12_table_stats", (s, d) =>
      AggOps.tableStats(t(s, d, "orders"), col("o_orderdate"),
        col("o_totalprice"), exactCenti = true), oracleSql =
      """SELECT count(*) AS n, min(o_orderdate) AS min_ts, max(o_orderdate) AS max_ts,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           / 100.0 AS sum_value
         FROM orders"""),

    // A14: conditional aggregation (best bid/ask shape).
    Query("q13_best_bid_ask", (s, d) =>
      AggOps.bestBidAsk(t(s, d, "events"), col("event_type"), "click", "view", col("value")), oracleSql =
      """SELECT max(CASE WHEN event_type = 'click' THEN value END) AS best_bid,
         min(CASE WHEN event_type = 'view' THEN value END) AS best_ask,
         min(CASE WHEN event_type = 'view' THEN value END)
           - max(CASE WHEN event_type = 'click' THEN value END) AS spread,
         (min(CASE WHEN event_type = 'view' THEN value END)
           + max(CASE WHEN event_type = 'click' THEN value END)) / 2 AS mid
         FROM events"""),

    // A15 + W4: top-N depth per side.
    Query("q14_depth_topn", (s, d) =>
      AggOps.depthTopN(t(s, d, "lineitem"), "l_returnflag", col("l_extendedprice"),
        col("l_quantity"), 100,
        Seq(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
        exactGrids = true), oracleSql =
      """WITH ranked AS (
           SELECT l_returnflag, l_extendedprice, l_quantity,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber, l_quantity) AS rn
           FROM lineitem)
         SELECT l_returnflag,
           CAST(CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
             AS DOUBLE) AS depth_qty,
           CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)
             * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             / 100.0 AS depth_notional,
           count(*) AS n_levels
         FROM ranked WHERE rn <= 100 GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // W1: per-group lag difference.
    Query("q15_lag_diff", (s, d) =>
      WindowOps.lagDiff(t(s, d, "events"),
          Seq(col("user_id")), Seq(col("ts"), col("event_id")), col("value"), "diff")
        .select(col("user_id"), col("event_id"), col("value"), col("diff"))
        .orderBy(col("event_id")), oracleSql =
      """SELECT user_id, event_id, value,
         value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS diff
         FROM events ORDER BY event_id"""),

    // W2: rolling stddev with min_periods gate.
    Query("q16_rolling_std", (s, d) =>
      WindowOps.rollingStd(t(s, d, "events"),
          Seq(col("event_type")), Seq(col("ts"), col("event_id")), col("value"),
          window = 60, minPeriods = 30, out = "vol60")
        .select(col("event_type"), col("event_id"), col("vol60"))
        .orderBy(col("event_id")), oracleSql =
      """SELECT event_type, event_id,
         CASE WHEN count(value) OVER w >= 30
              THEN round(stddev_samp(value) OVER w * sqrt(60.0), 6) END AS vol60
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
         ORDER BY event_id"""),

    // W3/P24: forward leads + forward log-returns.
    Query("q17_forward_returns", (s, d) =>
      WindowOps.forwardReturns(t(s, d, "events"),
          Seq(col("event_type")), Seq(col("ts"), col("event_id")), col("value"), Seq(5, 15))
        .select(col("event_id"), col("value"),
                col("lead_5"), col("fwd_ret_5"), col("lead_15"), col("fwd_ret_15"))
        .orderBy(col("event_id")), oracleSql =
      """SELECT event_id, value,
         lead(value, 5) OVER w AS lead_5,
         CASE WHEN lead(value, 5) OVER w > 0 AND value > 0
              THEN round(ln(lead(value, 5) OVER w / value), 6) END AS fwd_ret_5,
         lead(value, 15) OVER w AS lead_15,
         CASE WHEN lead(value, 15) OVER w > 0 AND value > 0
              THEN round(ln(lead(value, 15) OVER w / value), 6) END AS fwd_ret_15
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
         ORDER BY event_id"""),

    // W4: per-partition level numbering, top-100 levels. Threshold-prefilter
    // shape: the level≤100 cap folds into a bounded-heap 100th-price pass +
    // broadcast threshold filter, so the rank window sorts ~300 rows, never
    // the table (levelNumbers stays the uncapped W4 surface).
    Query("q18_book_levels", (s, d) =>
      WindowOps.thresholdedTopKPerGroup(t(s, d, "lineitem"),
          Seq("l_returnflag"), col("l_extendedprice"),
          Seq(col("l_orderkey"), col("l_linenumber")), 100, out = "level")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
                col("l_extendedprice"), col("level"))
        .orderBy(col("l_returnflag"), col("level")), oracleSql =
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, level FROM (
           SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS level
           FROM lineitem) WHERE level <= 100
         ORDER BY l_returnflag, level"""),

    // W5/O2/O3 + P7: global top-k by notional (TakeOrderedAndProject).
    Query("q19_topk_notional", (s, d) =>
      WindowOps.topK(
          t(s, d, "lineitem").withColumn("notional", col("l_extendedprice") * col("l_quantity")),
          Seq(col("notional").desc, col("l_orderkey"), col("l_linenumber")), 50)
        .select(col("l_orderkey"), col("l_linenumber"), col("notional")), oracleSql =
      """SELECT l_orderkey, l_linenumber, l_extendedprice * l_quantity AS notional
         FROM lineitem ORDER BY notional DESC, l_orderkey, l_linenumber LIMIT 50"""),

    // O4: deterministic cross-engine sample.
    Query("q20_deterministic_sample", (s, d) =>
      WindowOps.deterministicSample(t(s, d, "lineitem"),
          col("l_orderkey") * 10 + col("l_linenumber"), 1000)
        .select(col("l_orderkey"), col("l_linenumber")), oracleSql =
      """SELECT l_orderkey, l_linenumber FROM lineitem
         ORDER BY md5(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)) LIMIT 1000"""),

    // J1: bucket-alignment equi-join (facts → enriched).
    Query("q21_join_enrich", (s, d) => {
      val li = t(s, d, "lineitem")
      val o = t(s, d, "orders").select(col("o_orderkey").as("l_orderkey"),
        col("o_orderdate"), col("o_totalprice"))
      JoinOps.bucketAlignJoin(li, o, Seq("l_orderkey"), "inner")
        .select(col("l_orderkey"), col("l_linenumber"), col("o_orderdate"),
                col("o_totalprice"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    }, oracleSql =
      """SELECT l_orderkey, l_linenumber, o_orderdate, o_totalprice, l_extendedprice
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         ORDER BY l_orderkey, l_linenumber, l_extendedprice"""),

    // Multi-join + agg (flagship): revenue per region/nation.
    Query("q22_regional_revenue", (s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val n = t(s, d, "nation"); val r = t(s, d, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        // Exact e4-grid revenue: ep is centi, discount is centi, so each
        // line's ep·(1−d) is an exact long on the 1e-4 grid — the double
        // product-sum it replaces could land a rounding boundary (q149
        // class).
        .agg((sum(floor(col("l_extendedprice") * 100 + lit(0.5)) *
              (lit(100) - floor(col("l_discount") * 100 + lit(0.5)))) /
            lit(10000.0)).as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    }, oracleSql =
      """SELECT r_name, n_name,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
           * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS BIGINT)
           / 10000.0 AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name"""),

    // J2: cross-group time alignment (pivot + fill 0).
    Query("q23_pivot_align", (s, d) =>
      JoinOps.pivotAlign(t(s, d, "events"), TimeOps.minuteFloor(col("ts")),
        "event_type", eventTypes, col("value"), exactCenti = true), oracleSql = pivotAlignSql),

    // J3/K4-K7: idempotent last-write-wins upsert.
    Query("q24_upsert", (s, d) => {
      val ev = t(s, d, "events").select(col("event_id"), col("value"))
      val updates = ev.where(col("event_id") % 10 === 0)
        .withColumn("value", col("value") + 1000)
      SetOps.upsert(ev, updates, Seq("event_id")).orderBy(col("event_id"))
    }, oracleSql =
      """WITH base AS (SELECT event_id, value, 0 AS r FROM events),
         upd AS (SELECT event_id, value + 1000 AS value, 1 AS r FROM events
                 WHERE event_id % 10 = 0),
         u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
         rk AS (SELECT event_id, value,
                  row_number() OVER (PARTITION BY event_id ORDER BY r DESC) AS rn
                FROM u)
         SELECT event_id, value FROM rk WHERE rn = 1 ORDER BY event_id"""),

    // Semi-join (EXISTS).
    Query("q25_semi_join", (s, d) => {
      val big = t(s, d, "lineitem").where(col("l_quantity") >= 49)
        .select(col("l_orderkey").as("o_orderkey"))
      JoinOps.semiJoin(t(s, d, "orders"), big, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice")).orderBy(col("o_orderkey"))
    }, oracleSql =
      """SELECT o_orderkey, o_totalprice FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
         ORDER BY o_orderkey"""),

    // Anti-join (NOT EXISTS).
    Query("q26_anti_join", (s, d) => {
      val o = t(s, d, "orders").select(col("o_custkey").as("c_custkey"))
      JoinOps.antiJoin(t(s, d, "customer"), o, Seq("c_custkey"))
        .select(col("c_custkey"), col("c_name")).orderBy(col("c_custkey"))
    }, oracleSql =
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey"""),

    // As-of join (union + last-value window — one shuffle, no range blowup).
    Query("q27_asof_join", (s, d) => {
      val ev = t(s, d, "events")
      val left = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val right = ev.where(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("view_value"))
      JoinOps.asofJoin(left, right, "user_id", "ts", Seq("view_value"))
        .select(col("user_id"), col("event_id"), col("value"), col("asof_view_value"))
        .orderBy(col("event_id"))
    }, oracleSql =
      """WITH l AS (SELECT user_id, ts, event_id, value FROM events
                    WHERE event_type = 'purchase'),
         r AS (SELECT user_id, ts, max(value) AS view_value FROM events
               WHERE event_type = 'view' GROUP BY 1, 2)
         SELECT l.user_id, l.event_id, l.value, r.view_value AS asof_view_value
         FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY event_id"""),

    // U1/U2: union of slices.
    Query("q28_union_slices", (s, d) => {
      val li = t(s, d, "lineitem")
      SetOps.unionAligned(Seq(li.where(col("l_quantity") <= 2), li.where(col("l_quantity") >= 49)))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }, oracleSql =
      """SELECT l_orderkey, l_linenumber, l_quantity FROM (
           SELECT * FROM lineitem WHERE l_quantity <= 2
           UNION ALL
           SELECT * FROM lineitem WHERE l_quantity >= 49)
         ORDER BY l_orderkey, l_linenumber, l_quantity"""),

    // Intersect (set semantics).
    Query("q29_intersect", (s, d) =>
      t(s, d, "orders").select(col("o_custkey").as("custkey"))
        .intersect(t(s, d, "customer").where(col("c_acctbal") > 0)
          .select(col("c_custkey").as("custkey")))
        .orderBy(col("custkey")), oracleSql =
      """SELECT o_custkey AS custkey FROM orders
         INTERSECT
         SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0
         ORDER BY custkey"""),

    // Except (set semantics).
    Query("q30_except", (s, d) =>
      t(s, d, "customer").select(col("c_custkey").as("custkey"))
        .except(t(s, d, "orders").select(col("o_custkey").as("custkey")))
        .orderBy(col("custkey")), oracleSql =
      """SELECT c_custkey AS custkey FROM customer
         EXCEPT
         SELECT o_custkey AS custkey FROM orders
         ORDER BY custkey"""),

    // P22: column-global robust z-score (median/MAD, degenerate branch).
    Query("q31_robust_z", (s, d) =>
      RobustZ.withRobustZ(t(s, d, "events"), "value", "z")
        .select(col("event_id"), col("value"), round(col("z"), 6).as("z_value"))
        .orderBy(col("event_id")), oracleSql =
      """WITH m AS (SELECT median(value) AS med FROM events),
         md AS (SELECT median(abs(value - (SELECT med FROM m))) AS mad FROM events)
         SELECT event_id, value,
           round(CASE WHEN (SELECT mad FROM md) = 0
                      THEN value - (SELECT med FROM m)
                      ELSE 0.6745 * (value - (SELECT med FROM m)) / (SELECT mad FROM md)
                 END, 6) AS z_value
         FROM events ORDER BY event_id"""),

    // P22/P23 + O2/O3: anomaly score top-200. log(1+x) spelled exactly as
    // the oracle's ln(1 + value) — log1p is NOT bit-identical to ln(1+x),
    // and the 6-dp rounding of the score (which drives the top-200 cut)
    // can flip at a rounding boundary if the engines evaluate different
    // IEEE expressions.
    Query("q32_anomaly_topk", (s, d) => {
      val ev = t(s, d, "events").withColumn("log_value", log(lit(1) + col("value")))
      val scored = RobustZ.withAnomalyScore(ev, Seq("value", "log_value"), "anomaly")
        .withColumn("anomaly_score", round(col("anomaly"), 6))
      WindowOps.topK(scored, Seq(col("anomaly_score").desc, col("event_id")), 200)
        .select(col("event_id"), col("value"), col("anomaly_score"))
    }, oracleSql =
      """WITH ev AS (SELECT event_id, value, ln(1 + value) AS log_value FROM events),
         m1 AS (SELECT median(value) AS med FROM ev),
         d1 AS (SELECT median(abs(value - (SELECT med FROM m1))) AS mad FROM ev),
         m2 AS (SELECT median(log_value) AS med FROM ev),
         d2 AS (SELECT median(abs(log_value - (SELECT med FROM m2))) AS mad FROM ev),
         z AS (SELECT event_id, value,
                 CASE WHEN (SELECT mad FROM d1) = 0 THEN value - (SELECT med FROM m1)
                      ELSE 0.6745 * (value - (SELECT med FROM m1)) / (SELECT mad FROM d1) END AS z1,
                 CASE WHEN (SELECT mad FROM d2) = 0 THEN log_value - (SELECT med FROM m2)
                      ELSE 0.6745 * (log_value - (SELECT med FROM m2)) / (SELECT mad FROM d2) END AS z2
               FROM ev)
         SELECT event_id, value,
           round(greatest(abs(z1), abs(z2)), 6) AS anomaly_score
         FROM z ORDER BY anomaly_score DESC, event_id LIMIT 200"""),

    // Beyond-reference: ROLLUP grouping sets.
    Query("q33_rollup_agg", (s, d) =>
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first), oracleSql =
      """SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),

    // Streaming-shape batch parity: 5-minute tumbling window aggregation.
    Query("q34_tumbling_window", (s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(floor(col("value") * 100 + lit(0.5))) / lit(100.0)).as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type")), oracleSql =
      """SELECT time_bucket(INTERVAL '5 minutes', ts) AS win_start, event_type,
         count(*) AS n,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
           AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY win_start, event_type"""),

    // Streaming-shape batch parity: session windows (30-min gap).
    Query("q35_session_window", (s, d) =>
      t(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n"),
          (sum(floor(col("value") * 100 + lit(0.5))) / lit(100.0)).as("sum_value"))
        .select(col("user_id"), col("sw.start").as("session_start"), col("n"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start")), oracleSql =
      """WITH flagged AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sess AS (
           SELECT user_id, ts, value,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM flagged)
         SELECT user_id, min(ts) AS session_start, count(*) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
             AS sum_value
         FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start"""),

    // A7/J2: correlation matrix over the pivot-aligned series, preserving
    // the reference's fillna(0)-before-corr quirk (binance_analysis.py:539-543).
    // The pivot cells are exact e-5-grid doubles (pivotAlign exactCenti), so
    // floor(x·1e5+0.5) recovers exact longs and each corr comes out of the
    // n·Σxy−ΣxΣy identity in DECIMAL(38,0) with one terminal
    // divide-and-sqrt — corr()'s own double accumulation is the q108/q149
    // partition-order class over a 43k-minute series.
    Query("q50_corr_matrix", (s, d) => {
      val p = JoinOps.pivotAlign(t(s, d, "events"), TimeOps.minuteFloor(col("ts")),
        "event_type", eventTypes, col("value"), exactCenti = true)
      val xi = p.select(eventTypes.map(e =>
        floor(col(e) * 100000 + 0.5).as(e)): _*)
      val sums =
        Seq(count(lit(1)).as("n")) ++
        eventTypes.flatMap(e => Seq(sum(col(e)).as(s"s_$e"),
          sum(expr(s"CAST($e AS DECIMAL(38,0)) * $e")).as(s"ss_$e"))) ++
        (for { a <- eventTypes; b <- eventTypes if a < b } yield
          sum(expr(s"CAST($a AS DECIMAL(38,0)) * $b")).as(s"sp_${a}_$b"))
      val agged = xi.agg(sums.head, sums.tail: _*)
      val pairs = for { a <- eventTypes; b <- eventTypes if a < b } yield
        round(
          expr(s"CAST(n * sp_${a}_$b - CAST(s_$a AS DECIMAL(38,0)) * s_$b AS DOUBLE)") /
          sqrt(expr(s"CAST(n * ss_$a - CAST(s_$a AS DECIMAL(38,0)) * s_$a AS DOUBLE)") *
               expr(s"CAST(n * ss_$b - CAST(s_$b AS DECIMAL(38,0)) * s_$b AS DOUBLE)")), 6)
          .as(s"corr_${a}_$b")
      agged.select(pairs: _*)
    }, oracleSql = {
      val types = eventTypes
      val pivotCols = types.map(e =>
        s"""coalesce(CAST(CAST(sum(CASE WHEN event_type = '$e'
            THEN floor(value * 100 + 0.5) END) AS BIGINT) * 1000
          // NULLIF(count(CASE WHEN event_type = '$e' THEN 1 END), 0)
          AS BIGINT) / 100000.0, 0.0) AS $e""").mkString(", ")
      // e-5-grid cells recover exact BIGINTs; n·Σxy−ΣxΣy in HUGEINT with
      // one terminal divide-and-sqrt (mirrors the engine's DECIMAL form).
      val xCols = types.map(e =>
        s"CAST(floor($e * 100000 + 0.5) AS BIGINT) AS $e").mkString(", ")
      // One operand widens to HUGEINT per product: the e-5-grid cells are
      // value·1e5, so a BIGINT×BIGINT per-row product would overflow (and
      // DuckDB errors) for |value| beyond ~3e4 — mirror of the engine's
      // DECIMAL(38,0) widening.
      val sumCols = (types.map(e =>
          s"sum(CAST($e AS HUGEINT) * $e) AS ss_$e, sum($e) AS s_$e") ++
        (for { a <- types; b <- types if a < b } yield
          s"sum(CAST($a AS HUGEINT) * $b) AS sp_${a}_$b")).mkString(", ")
      val pairs = (for { a <- types; b <- types if a < b } yield
        s"""round(CAST(n * sp_${a}_$b - s_$a * s_$b AS DOUBLE)
             / sqrt(CAST(n * ss_$a - s_$a * s_$a AS DOUBLE)
                  * CAST(n * ss_$b - s_$b * s_$b AS DOUBLE)), 6)
           AS corr_${a}_$b""").mkString(", ")
      s"""WITH p AS (SELECT date_trunc('minute', ts) AS bucket, $pivotCols
          FROM events GROUP BY 1),
          x AS (SELECT $xCols FROM p),
          a AS (SELECT count(*) AS n, $sumCols FROM x)
          SELECT $pairs FROM a"""
    }),

    // A12 extension: explicit gap listing — expected minute sequence minus
    // observed minutes (sequence + explode + set-difference).
    Query("q51_gap_listing", (s, d) => {
      val ev = t(s, d, "events")
      val mm = ev.agg(date_trunc("minute", min(col("ts"))).as("mn"),
                      date_trunc("minute", max(col("ts"))).as("mx"))
      val all = mm.select(explode(sequence(col("mn"), col("mx"),
        expr("interval 1 minute"))).as("minute"))
      val present = ev.select(TimeOps.minuteFloor(col("ts")).as("minute")).distinct()
      all.except(present).orderBy(col("minute"))
    }, oracleSql =
      """WITH mm AS (SELECT date_trunc('minute', min(ts)) AS mn,
                            date_trunc('minute', max(ts)) AS mx FROM events),
         allm AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 MINUTE)) AS minute FROM mm)
         SELECT minute FROM allm
         EXCEPT SELECT DISTINCT date_trunc('minute', ts) AS minute FROM events
         ORDER BY minute"""),

    // Full rank-function family (rank/dense_rank on the tie-bearing value
    // ordering; ntile on a unique ordering — ntile under ties is
    // engine-arbitrary). percent_rank/cume_dist are integer-ratio exact.
    Query("q53_rank_family", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val wTies = Window.partitionBy(col("event_type")).orderBy(col("value").desc)
      val wUniq = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))
      t(s, d, "events")
        .select(col("event_type"), col("event_id"), col("value"),
          rank().over(wTies).as("rnk"),
          dense_rank().over(wTies).as("drnk"),
          round(percent_rank().over(wTies), 6).as("prnk"),
          round(cume_dist().over(wTies), 6).as("cd"),
          ntile(4).over(wUniq).as("quartile"))
        .where(col("rnk") <= 20)
        .orderBy(col("event_type"), col("rnk"), col("event_id"))
    }, oracleSql =
      """SELECT event_type, event_id, value,
           rank() OVER wt AS rnk,
           dense_rank() OVER wt AS drnk,
           round(percent_rank() OVER wt, 6) AS prnk,
           round(cume_dist() OVER wt, 6) AS cd,
           ntile(4) OVER wu AS quartile
         FROM events
         WINDOW wt AS (PARTITION BY event_type ORDER BY value DESC),
                wu AS (PARTITION BY event_type ORDER BY value DESC, event_id)
         QUALIFY rnk <= 20
         ORDER BY event_type, rnk, event_id"""),

    // CUBE grouping sets over two dimensions.
    Query("q54_cube_agg", (s, d) =>
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first), oracleSql =
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),

    // Exact distinct counts per group. The HLL++ scale path is
    // AggOps.approxDistinctCounts (error-bound-tested in OperatorSpecs and
    // oracle-gated through its bound verdict in q197_hll_bound).
    Query("q55_distinct_counts", (s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count_distinct(col("o_custkey")).as("n_custs"),
             count(lit(1)).as("n_orders"),
             (sum(floor(col("o_totalprice") * 100 + lit(0.5))) / lit(100.0))
               .as("sum_price"))
        .orderBy(col("o_orderpriority")), oracleSql =
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_custs,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             / 100.0 AS sum_price
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // Interval enrichment join (batch parity of the stream-stream join):
    // each purchase paired with the same user's clicks in the preceding
    // 10 minutes (bounds inclusive — identical semantics to
    // StreamJoin.intervalJoin, which runs the watermarked streaming side).
    // The BATCH plan routes through RangeJoin.banded: a pure hash equi-join
    // on (user, time bucket) instead of an equi-key SMJ with the range as
    // post-filter, which degrades per-key quadratic on hot users at scale.
    // Streaming keeps the bare range predicate — it is exactly what Spark's
    // watermark state-cleanup analysis consumes.
    Query("q64_interval_join", (s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"), col("value").as("c_value"))
      RangeJoin.banded(purchases, clicks, Seq("user_id"), "p_ts", "c_ts",
          lowerSec = -600, upperSec = 0, inclusiveUpper = true)
        .groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("n_clicks"),
             (sum(floor(col("c_value") * 100 + lit(0.5))) / lit(100.0))
               .as("click_value"))
        .orderBy(col("purchase_id"))
    }, oracleSql =
      """SELECT p.event_id AS purchase_id, count(*) AS n_clicks,
           CAST(sum(CAST(floor(c.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             / 100.0 AS click_value
         FROM events p JOIN events c
           ON c.user_id = p.user_id
          AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
         WHERE p.event_type = 'purchase' AND c.event_type = 'click'
         GROUP BY purchase_id ORDER BY purchase_id"""),

    // Banded range join: views in the 30 minutes before each purchase by
    // the same user — executed as a pure hash equi-join on (user, time
    // bucket), never a broadcast-nested-loop (see RangeJoin).
    Query("q68_banded_range_join", (s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("v_ts"))
      RangeJoin.banded(purchases, views, Seq("user_id"), "p_ts", "v_ts",
          lowerSec = -1800, upperSec = 0)
        .groupBy(col("purchase_id"))
        .agg(count(lit(1)).as("n_prior_views"))
        .orderBy(col("purchase_id"))
    }, oracleSql =
      """SELECT p.event_id AS purchase_id, count(*) AS n_prior_views
         FROM events p JOIN events v
           ON v.user_id = p.user_id
          AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts < p.ts
         WHERE p.event_type = 'purchase' AND v.event_type = 'view'
         GROUP BY purchase_id ORDER BY purchase_id"""),

    // Per-key exact EWMA (pandas ewm(alpha=0.2, adjust=False) semantics)
    // via ScanOps' in-row sequential fold — a linear recurrence that no
    // window frame or higher-order fold expresses per-row (the naive
    // c^(−j) sum formulation overflows past a few thousand rows). Keyed by
    // (user_id, event_type): bounded per-key series, ONE shuffle. The
    // oracle runs the SAME double chain via list_reduce prefix folds, so
    // values agree bit-for-bit before the 6 dp display rounding.
    Query("q90_ewma", (s, d) =>
      ScanOps.ewmaPerKey(t(s, d, "events"), Seq("user_id", "event_type"),
          Seq("ts", "event_id"), col("value"), alpha = 0.2, "value", "ewma")
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("value"), round(col("ewma"), 6).as("ewma"))
        .orderBy(col("user_id"), col("event_type"), col("event_id")), oracleSql =
      // The lambda's constants are forced to DOUBLE and the decay factor is
      // written as (1 - 0.2) IN DOUBLE ARITHMETIC: the engine computes
      // c = 1.0 - alpha as a double subtraction, and 1.0-0.2 in binary is a
      // DIFFERENT double than the literal 0.8 — a decimal-typed 0.8 here
      // would desynchronize the fold chains.
      """WITH s AS (
           SELECT user_id, event_type,
                  list(value ORDER BY ts, event_id) AS vals,
                  list(event_id ORDER BY ts, event_id) AS ids
           FROM events GROUP BY 1, 2),
         e AS (
           SELECT user_id, event_type, ids[i] AS event_id, vals[i] AS value,
                  round(list_reduce(vals[1:i],
                    (acc, x) -> (CAST(1 AS DOUBLE) - CAST(0.2 AS DOUBLE)) * acc
                                + CAST(0.2 AS DOUBLE) * x), 6) AS ewma
           FROM s, unnest(generate_series(1, len(vals))) AS t(i))
         SELECT user_id, event_type, event_id, value, ewma FROM e
         ORDER BY user_id, event_type, event_id"""),

    // Rolling 60-minute correlation between two pivot-aligned series —
    // the co-movement diagnostic over q23's minute matrix. Partitioned by
    // DAY so no task ever holds the whole history (frames reset at
    // midnight — the standard daily-analytics convention, and the price
    // of a splittable plan); gated on full frames AND nonzero variance.
    // The correlation is spelled covar/sqrt(var·var) rather than corr():
    // a window corr() evaluates on EVERY frame before the projection's
    // conditional, so a zero-variance frame (common here — the fillna-0
    // pivot leaves sparse series flat for long stretches) throws
    // DIVIDE_BY_ZERO under ANSI mode; CASE WHEN only evaluates the
    // division on gated frames, and the oracle mirrors the same spelling.
    Query("q92_rolling_corr", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val p = JoinOps.pivotAlign(t(s, d, "events"), TimeOps.minuteFloor(col("ts")),
        "event_type", eventTypes, col("value"), exactCenti = true)
      val w = Window.partitionBy(date_trunc("day", col("bucket")))
        .orderBy(col("bucket")).rowsBetween(-59, 0)
      def gated(a: String, b: String): Column = {
        val va = var_samp(col(a)).over(w)
        val vb = var_samp(col(b)).over(w)
        when(count(lit(1)).over(w) >= 60 && va > 0 && vb > 0,
          round(covar_samp(col(a), col(b)).over(w) / sqrt(va * vb), 6))
      }
      p.select(col("bucket"),
          gated("click", "view").as("corr_click_view"),
          gated("purchase", "signup").as("corr_purchase_signup"))
        .orderBy(col("bucket"))
    }, oracleSql = {
      val piv = eventTypes.map(e =>
        s"""coalesce(CAST(CAST(sum(CASE WHEN event_type = '$e'
            THEN floor(value * 100 + 0.5) END) AS BIGINT) * 1000
          // NULLIF(count(CASE WHEN event_type = '$e' THEN 1 END), 0)
          AS BIGINT) / 100000.0, 0.0) AS $e""").mkString(", ")
      def gated(a: String, b: String, out: String) =
        s"""CASE WHEN count(*) OVER w >= 60
              AND var_samp($a) OVER w > 0 AND var_samp($b) OVER w > 0
            THEN round(covar_samp($a, $b) OVER w
                       / sqrt((var_samp($a) OVER w) * (var_samp($b) OVER w)), 6)
            END AS $out"""
      s"""WITH p AS (SELECT date_trunc('minute', ts) AS bucket, $piv
            FROM events GROUP BY 1)
          SELECT bucket, ${gated("click", "view", "corr_click_view")},
            ${gated("purchase", "signup", "corr_purchase_signup")}
          FROM p
          WINDOW w AS (PARTITION BY date_trunc('day', bucket) ORDER BY bucket
            ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
          ORDER BY bucket"""
    }),

    // Event-sequence funnel: for every click, the exact microsecond lag to
    // the SAME user's next purchase, kept when conversion lands within 30
    // minutes. The "next matching event" comes from a min over the
    // strictly-following window frame — per-user partitions, bounded
    // state, no self-join. (asofJoin covers the backward direction; this
    // is the forward shape.)
    Query("q93_funnel", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(1, Window.unboundedFollowing)
      t(s, d, "events")
        .withColumn("__np",
          min(when(col("event_type") === "purchase", col("ts"))).over(w))
        .where(col("event_type") === "click" && col("__np").isNotNull)
        .select(col("user_id"), col("event_id").as("click_id"),
          (TimeOps.epochMicros(col("__np")) - TimeOps.epochMicros(col("ts")))
            .as("us_to_purchase"))
        .where(col("us_to_purchase") <= 1800L * 1000000L)
        .orderBy(col("user_id"), col("click_id"))
    }, oracleSql =
      """WITH n AS (
           SELECT user_id, event_id, event_type, ts,
             min(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np
           FROM events)
         SELECT user_id, event_id AS click_id,
           CAST(epoch_us(np) - epoch_us(ts) AS BIGINT) AS us_to_purchase
         FROM n
         WHERE event_type = 'click' AND np IS NOT NULL
           AND epoch_us(np) - epoch_us(ts) <= 1800 * 1000000
         ORDER BY user_id, click_id"""),

    // Distribution-drift monitoring: exact two-sample Kolmogorov–Smirnov
    // statistic per event_type between the even- and odd-id halves (the
    // train/holdout drift check a data pipeline runs between snapshots).
    // The ECDFs run over the DISTINCT-value spine: the groupBy collapses
    // row count to value cardinality first (map-side combined), so the
    // per-type window scans distinct values, not raw rows — at
    // unbounded-cardinality 100 TB the spine itself would first be
    // histogram-bucketed (approx_percentile cut points), trading exactness
    // for a bound; here the metric domain is small and the ECDF is exact.
    Query("q94_ks_drift", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val c = t(s, d, "events")
        .groupBy(col("event_type"), col("value"))
        .agg(count(when(col("event_id") % 2 === 0, 1)).as("__ca"),
             count(when(col("event_id") % 2 =!= 0, 1)).as("__cb"))
      val wv = Window.partitionBy(col("event_type")).orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy(col("event_type"))
      c.select(col("event_type"),
          sum(col("__ca")).over(wv).as("__cuma"),
          sum(col("__cb")).over(wv).as("__cumb"),
          sum(col("__ca")).over(wt).as("__na"),
          sum(col("__cb")).over(wt).as("__nb"))
        .groupBy(col("event_type"))
        .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
          round(max(abs(col("__cuma") / col("__na") - col("__cumb") / col("__nb"))), 6)
            .as("ks"))
        .orderBy(col("event_type"))
    }, oracleSql =
      """WITH c AS (SELECT event_type, value,
             count(CASE WHEN event_id % 2 = 0 THEN 1 END) AS ca,
             count(CASE WHEN event_id % 2 <> 0 THEN 1 END) AS cb
           FROM events GROUP BY 1, 2),
         e AS (SELECT event_type,
             sum(ca) OVER wv AS cuma, sum(cb) OVER wv AS cumb,
             sum(ca) OVER wt AS na, sum(cb) OVER wt AS nb
           FROM c
           WINDOW wv AS (PARTITION BY event_type ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wt AS (PARTITION BY event_type))
         SELECT event_type, CAST(max(na) AS BIGINT) AS n_a,
           CAST(max(nb) AS BIGINT) AS n_b,
           round(max(abs(CAST(cuma AS DOUBLE) / na
                         - CAST(cumb AS DOUBLE) / nb)), 6) AS ks
         FROM e GROUP BY 1 ORDER BY event_type"""),

    // Population stability index per event_type — the standard ML-ops
    // drift score over fixed-width value buckets (PSI < 0.1 stable,
    // > 0.25 drifted). Proportions are taken against each half's FULL
    // population; buckets empty on either side are excluded from the sum
    // (the deterministic variant of the epsilon fudge, mirrored exactly in
    // the oracle — ln(0) is the alternative). Bucket spine per type is
    // value-range/width rows, so the totals window runs over a collapsed
    // frame, not raw events.
    Query("q96_psi_drift", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val b = t(s, d, "events")
        .withColumn("__bucket", floor(col("value") / lit(50.0)).cast("long"))
        .groupBy(col("event_type"), col("__bucket"))
        .agg(count(when(col("event_id") % 2 === 0, 1)).as("__ca"),
             count(when(col("event_id") % 2 =!= 0, 1)).as("__cb"))
      val wt = Window.partitionBy(col("event_type"))
      b.select(col("event_type"), col("__ca"), col("__cb"),
          sum(col("__ca")).over(wt).as("__na"),
          sum(col("__cb")).over(wt).as("__nb"))
        .where(col("__ca") > 0 && col("__cb") > 0)
        .withColumn("__pa", col("__ca") / col("__na"))
        .withColumn("__pb", col("__cb") / col("__nb"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_buckets"),
             round(sum((col("__pa") - col("__pb")) * log(col("__pa") / col("__pb"))), 6)
               .as("psi"))
        .orderBy(col("event_type"))
    }, oracleSql =
      """WITH b AS (SELECT event_type,
             CAST(floor(value / 50.0) AS BIGINT) AS bucket,
             count(CASE WHEN event_id % 2 = 0 THEN 1 END) AS ca,
             count(CASE WHEN event_id % 2 <> 0 THEN 1 END) AS cb
           FROM events GROUP BY 1, 2),
         e AS (SELECT event_type, ca, cb,
             sum(ca) OVER (PARTITION BY event_type) AS na,
             sum(cb) OVER (PARTITION BY event_type) AS nb
           FROM b),
         p AS (SELECT event_type,
             CAST(ca AS DOUBLE) / na AS pa, CAST(cb AS DOUBLE) / nb AS pb
           FROM e WHERE ca > 0 AND cb > 0)
         SELECT event_type, count(*) AS n_buckets,
           round(sum((pa - pb) * ln(pa / pb)), 6) AS psi
         FROM p GROUP BY 1 ORDER BY event_type"""),

    // Categorical drift: chi-square independence statistic of the
    // (event_type × id-parity-half) contingency table — one aggregation
    // over 5×2 counts, totals joined back as a broadcast 1-row frame.
    Query("q95_chi2_drift", (s, d) => {
      val o = t(s, d, "events").groupBy(col("event_type"))
        .agg(count(when(col("event_id") % 2 === 0, 1)).as("__oa"),
             count(when(col("event_id") % 2 =!= 0, 1)).as("__ob"))
      val tot = o.agg(sum(col("__oa")).as("__ta"), sum(col("__ob")).as("__tb"))
      o.crossJoin(broadcast(tot))
        .withColumn("__n", col("__ta") + col("__tb"))
        .withColumn("__ea", (col("__oa") + col("__ob")) * col("__ta") / col("__n"))
        .withColumn("__eb", (col("__oa") + col("__ob")) * col("__tb") / col("__n"))
        .agg(round(sum(pow(col("__oa") - col("__ea"), 2) / col("__ea") +
                       pow(col("__ob") - col("__eb"), 2) / col("__eb")), 6).as("chi2"),
             (count_distinct(col("event_type")) - 1).as("dof"))
    }, oracleSql =
      """WITH o AS (SELECT event_type,
             count(CASE WHEN event_id % 2 = 0 THEN 1 END) AS oa,
             count(CASE WHEN event_id % 2 <> 0 THEN 1 END) AS ob
           FROM events GROUP BY 1),
         t AS (SELECT CAST(sum(oa) AS BIGINT) AS ta,
                      CAST(sum(ob) AS BIGINT) AS tb FROM o),
         x AS (SELECT event_type, oa, ob,
             CAST((oa + ob) * ta AS DOUBLE) / (ta + tb) AS ea,
             CAST((oa + ob) * tb AS DOUBLE) / (ta + tb) AS eb
           FROM o, t)
         SELECT round(sum(pow(oa - ea, 2) / ea + pow(ob - eb, 2) / eb), 6) AS chi2,
           CAST(count(DISTINCT event_type) - 1 AS BIGINT) AS dof
         FROM x"""),

    // Gap-based sessionization: per-user visit episodes (30-min inactivity
    // closes a session) with ordinal, size, bounds and duration — the
    // event-stream → interaction-episode rollup. One exchange on user_id
    // serves both windows AND the final aggregate (the group key extends
    // the partition key).
    Query("q101_sessionization", (s, d) =>
      operators.Sessionize.sessionStats(t(s, d, "events"),
          "user_id", "ts", "event_id", gapSec = 1800L)
        .orderBy(col("user_id"), col("session_idx")), oracleSql =
      // Same lag→flag→running-sum spelling; a gap of EXACTLY 1800 s still
      // MERGES (only strictly-greater splits — Spark's native session_window
      // rule, which the engine operator matches for batch/stream parity).
      """WITH o AS (SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           FROM events),
         f AS (SELECT user_id, ts, event_id,
             CASE WHEN prev IS NULL
                    OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1
                  ELSE 0 END AS nw
           FROM o),
         s AS (SELECT user_id, ts,
             sum(nw) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_idx
           FROM f)
         SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           epoch_us(max(ts)) // 1000000 - epoch_us(min(ts)) // 1000000
             AS duration_sec
         FROM s GROUP BY user_id, session_idx
         ORDER BY user_id, session_idx"""),

    // Cohort retention matrix over events: users bucketed by first-active
    // day, exact distinct actives per (cohort, day-offset) cell. The raw
    // stream collapses to distinct (user, day) FIRST; everything after
    // works on that much smaller frame.
    Query("q112_cohort_retention", (s, d) => {
      AggOps.cohortRetention(t(s, d, "events"), "user_id", "ts")
        .orderBy(col("cohort_day"), col("day_offset"))
    }, oracleSql =
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
           FROM events),
         c AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY 1)
         SELECT cohort_day, CAST(day - cohort_day AS BIGINT) AS day_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
         FROM days JOIN c USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    // Inter-event gap profile per event type: consecutive-event deltas
    // WITHIN each (user, type) stream — the window partitions by user (many
    // keys, bounded per-key history), never by the 5-value event_type,
    // which would funnel the corpus through 5 tasks at 100 TB. All outputs
    // are map-side-combinable sums/counts (no per-type percentile, which
    // would re-sort per group); burst_milli = share of gaps under 60 s.
    Query("q119_inter_event_gaps", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("__us", TimeOps.epochMicros(col("ts")))
        .withColumn("__gap", col("__us") - lag(col("__us"), 1).over(w))
        .where(col("__gap").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          // Exact integer mean in micros (gaps are nonneg longs): a double
          // avg here is partition-order-sensitive — the q108/q149 class.
          expr("sum(__gap) div count(*)").as("avg_gap_us"),
          expr("max(__gap) div 1000000").as("max_gap_s"),
          expr("count(CASE WHEN __gap < 60000000 THEN 1 END) * 1000 div count(*)")
            .as("burst_milli"))
        .orderBy(col("event_type"))
    }, oracleSql =
      // epoch_us on the naive UTC timestamp matches the engine's
      // TimeOps.epochMicros under its pinned UTC session (the q93 contract).
      """WITH g AS (SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap
           FROM events)
         SELECT event_type, count(*) AS n_gaps,
           CAST(sum(gap) // count(*) AS BIGINT) AS avg_gap_us,
           CAST(max(gap) // 1000000 AS BIGINT) AS max_gap_s,
           CAST((count(CASE WHEN gap < 60000000 THEN 1 END) * 1000) // count(*)
             AS BIGINT) AS burst_milli
         FROM g WHERE gap IS NOT NULL
         GROUP BY 1 ORDER BY 1"""),

    // Per-user behavioral feature extraction (the bot/abuse-screen feature
    // frame a curation run joins against event-derived corpora): one
    // user-keyed window for the gap features, then a user-keyed aggregate
    // that reuses the same hash distribution — the two distinct counts ride
    // the expand inside that keyed aggregate, never a second corpus
    // shuffle. rapid_milli = share of inter-event gaps under 1 s.
    Query("q120_user_features", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("__us", TimeOps.epochMicros(col("ts")))
        .withColumn("__gap", col("__us") - lag(col("__us"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("event_type")).as("n_types"),
          count_distinct(to_date(col("ts"))).as("n_active_days"),
          expr("(max(__us) - min(__us)) div 1000000").as("span_s"),
          (sum(floor(col("value") * 100 + lit(0.5))) / lit(100.0)).as("total_value"),
          expr("""coalesce(count(CASE WHEN __gap < 1000000 THEN 1 END) * 1000
                  div nullif(count(__gap), 0), 0)""").as("rapid_milli"))
        .orderBy(col("user_id"))
    }, oracleSql =
      """WITH g AS (SELECT user_id, event_type, ts, value,
             epoch_us(ts) AS us,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap
           FROM events)
         SELECT user_id, count(*) AS n_events,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_active_days,
           CAST((max(us) - min(us)) // 1000000 AS BIGINT) AS span_s,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
             AS total_value,
           CAST(coalesce((count(CASE WHEN gap < 1000000 THEN 1 END) * 1000)
             // nullif(count(gap), 0), 0) AS BIGINT) AS rapid_milli
         FROM g GROUP BY user_id ORDER BY user_id"""),

    // Windowed heavy-hitter estimation as an ORACLED query: per event-hour,
    // the StreamSketch CMS estimate for each present event type against its
    // exact windowed count — the live sketch path's accuracy is itself
    // cross-engine-verified (the q89/q116/q117 harness pattern, now for
    // the streaming counter shape). Runs the SAME windowedCms/
    // windowedEstimates code the streaming query deploys (batch-parity is
    // what StreamSketchSpec pins).
    Query("q129_windowed_heavy_hitters", (s, d) => {
      val ev = t(s, d, "events")
      val cms = streaming.StreamSketch.windowedCms(ev, "event_type", "ts",
        depth = 4, width = 64, windowDur = "1 hour", watermark = "0 seconds")
      val watch = ev.select(col("event_type")).distinct()
      val est = streaming.StreamSketch.windowedEstimates(cms, watch,
        "event_type", depth = 4, width = 64)
      val exact = ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("exact_cnt"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("exact_cnt"))
      est.join(exact, Seq("window_start", "event_type"))
        .select(col("window_start"), col("event_type"), col("exact_cnt"),
          col("est").as("est_cnt"),
          (col("est") - col("exact_cnt")).as("overcount"))
        .orderBy(col("window_start"), col("event_type"))
    }, oracleSql =
      // q117's CMS construction per event-hour window; the cells=4 guard is
      // the sparse-counter zero law (an absent counter row is a zero).
      """WITH ev AS (SELECT date_trunc('hour', ts) AS window_start, event_type
           FROM events),
         sd AS (SELECT unnest(range(4)) AS seed),
         sb AS (SELECT window_start, event_type, seed,
             CAST('0x' || substring(md5(CAST(seed AS VARCHAR) || ':' || event_type), 1, 8)
               AS BIGINT) % 64 AS bucket
           FROM ev, sd),
         cms AS (SELECT window_start, seed, bucket, count(*) AS total
                 FROM sb GROUP BY 1, 2, 3),
         ty AS (SELECT DISTINCT event_type FROM events),
         pb AS (SELECT event_type, seed,
             CAST('0x' || substring(md5(CAST(seed AS VARCHAR) || ':' || event_type), 1, 8)
               AS BIGINT) % 64 AS bucket
           FROM ty, sd),
         est AS (SELECT c.window_start, p.event_type, min(c.total) AS est
                 FROM cms c JOIN pb p ON p.seed = c.seed AND p.bucket = c.bucket
                 GROUP BY 1, 2 HAVING count(*) = 4 AND min(c.total) > 0),
         ex AS (SELECT window_start, event_type, count(*) AS exact_cnt
                FROM ev GROUP BY 1, 2)
         SELECT ex.window_start, ex.event_type, ex.exact_cnt,
           CAST(e.est AS BIGINT) AS est_cnt,
           CAST(e.est - ex.exact_cnt AS BIGINT) AS overcount
         FROM ex JOIN est e ON e.window_start = ex.window_start
           AND e.event_type = ex.event_type
         ORDER BY ex.window_start, ex.event_type"""),

    // Semi-structured extraction: the events' JSON props column parsed
    // through the TYPED from_json path (schema-projected, codegen'd — the
    // Spark-first spelling for known-shape payloads; get_json_object would
    // re-parse per field) and rolled up per event type. Malformed/missing
    // keys become nulls and are accounted separately.
    Query("q132_props_extract", (s, d) => {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType)))
      t(s, d, "events")
        .withColumn("__k", from_json(col("props"), schema).getField("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count(col("__k")).as("n_with_k"),
          sum(col("__k")).as("sum_k"),
          min(col("__k")).as("min_k"),
          max(col("__k")).as("max_k"),
          count_distinct(col("__k")).as("n_distinct_k"))
        .orderBy(col("event_type"))
    }, oracleSql =
      """WITH e AS (SELECT event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
           FROM events)
         SELECT event_type, count(*) AS n_events,
           count(k) AS n_with_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k,
           CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k
         FROM e GROUP BY 1 ORDER BY 1"""),

    // TPC-H Q3 shape (shipping priority): segment-filtered customer ⋈
    // open orders ⋈ still-unshipped lineitems, revenue per order, top-10.
    // Both date filters push to the parquet scans; the two fact joins
    // shuffle on their keys and the final cut is a TakeOrderedAndProject,
    // never a global sort.
    Query("q134_shipping_priority", (s, d) => {
      val cutoff = "1998-06-15"
      val cust = t(s, d, "customer")
        .where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val ord = t(s, d, "orders")
        .where(col("o_orderdate") < lit(cutoff))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val li = t(s, d, "lineitem")
        .where(col("l_shipdate") > lit(cutoff))
        .select(col("l_orderkey"),
          // Exact e4-grid per-line revenue: the float product-sum this
          // replaces also RANKED the top-10 cut — a boundary flip there
          // changes rows, not just a cell.
          (floor(col("l_extendedprice") * 100 + lit(0.5)) *
            (lit(100) - floor(col("l_discount") * 100 + lit(0.5)))).as("__rev_e4"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg((sum(col("__rev_e4")) / lit(10000.0)).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey")).limit(10)
    }, oracleSql =
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS BIGINT)
             / 10000.0 AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
           AND l_shipdate > TIMESTAMP '1998-06-15 00:00:00'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, o_orderkey LIMIT 10"""),

    // Small-quantity order analysis (TPC-H Q17 shape): revenue from
    // lineitems under half their part's average quantity, per brand. The
    // classic correlated subquery becomes a per-part aggregate DIM joined
    // back by partkey — one extra keyed shuffle, no per-row subquery.
    // Quantities are integral doubles, so sum/count and the ×0.5 threshold
    // are IEEE-exact in both engines.
    Query("q138_small_qty_parts", (s, d) => {
      val li = t(s, d, "lineitem")
      val avgq = li.groupBy(col("l_partkey"))
        .agg((sum(col("l_quantity")) / count(lit(1))).as("__avg"))
      li.join(avgq, Seq("l_partkey"))
        .where(col("l_quantity") < lit(0.5) * col("__avg"))
        .join(t(s, d, "part").select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_small_lines"),
          (sum(floor(col("l_extendedprice") * 100 + lit(0.5))) / lit(100.0))
            .as("small_revenue"))
        .orderBy(col("p_brand"))
    }, oracleSql =
      """WITH a AS (SELECT l_partkey, sum(l_quantity) / count(*) AS avgq
                    FROM lineitem GROUP BY 1),
         f AS (SELECT l.l_partkey, l.l_extendedprice
               FROM lineitem l JOIN a ON l.l_partkey = a.l_partkey
               WHERE l.l_quantity < 0.5 * a.avgq)
         SELECT p.p_brand, count(*) AS n_small_lines,
           CAST(sum(CAST(floor(f.l_extendedprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) / 100.0 AS small_revenue
         FROM f JOIN part p ON f.l_partkey = p.p_partkey
         GROUP BY 1 ORDER BY 1"""),

    // Supply-side rollup joining the two previously-unexercised dims:
    // revenue per supplier nation (lineitem ⋈ supplier ⋈ nation ⋈ region)
    // + supplier counts and account balances. Dims broadcast; the one
    // corpus-sized shuffle keys by suppkey.
    Query("q139_supplier_nations", (s, d) => {
      val sup = t(s, d, "supplier")
      val nat = t(s, d, "nation")
      val reg = t(s, d, "region")
      val rev = t(s, d, "lineitem")
        .select(col("l_suppkey"),
          (floor(col("l_extendedprice") * 100 + lit(0.5)) *
            (lit(100) - floor(col("l_discount") * 100 + lit(0.5)))).as("__rev_e4"))
        .groupBy(col("l_suppkey")).agg(sum(col("__rev_e4")).as("__srev_e4"))
      sup.join(rev, col("s_suppkey") === col("l_suppkey"), "left")
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          (sum(floor(col("s_acctbal") * 100 + lit(0.5))) / lit(100.0))
            .as("total_acctbal"),
          (sum(coalesce(col("__srev_e4"), lit(0L))) / lit(10000.0)).as("revenue"))
        .orderBy(col("r_name"), col("n_name"))
    }, oracleSql =
      """WITH rev AS (SELECT l_suppkey,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
               * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
               AS BIGINT) AS srev_e4
           FROM lineitem GROUP BY 1)
         SELECT r.r_name, n.n_name, count(*) AS n_suppliers,
           CAST(sum(CAST(floor(s.s_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
             / 100.0 AS total_acctbal,
           CAST(sum(coalesce(rev.srev_e4, 0)) AS BIGINT) / 10000.0 AS revenue
         FROM supplier s
         LEFT JOIN rev ON s.s_suppkey = rev.l_suppkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    // Per-user event-type transition matrix (the first-order Markov counts
    // behind session modeling / bot signatures): lead over the user-keyed
    // window, then a 25-cell aggregate with per-from-state probabilities
    // via a broadcast totals dim.
    Query("q140_event_transitions", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val trans = t(s, d, "events")
        .withColumn("__next", lead(col("event_type"), 1).over(w))
        .where(col("__next").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("__next").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = trans.groupBy(col("from_type")).agg(sum(col("n")).as("__tot"))
      trans.join(broadcast(totals), Seq("from_type"))
        .withColumn("p_milli", expr("n * 1000 div __tot"))
        .select(col("from_type"), col("to_type"), col("n"), col("p_milli"))
        .orderBy(col("from_type"), col("to_type"))
    }, oracleSql =
      """WITH t AS (SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
           FROM events),
         c AS (SELECT from_type, to_type, count(*) AS n FROM t
               WHERE to_type IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tt
                 FROM c GROUP BY 1)
         SELECT c.from_type, c.to_type, c.n,
           CAST(c.n * 1000 // tot.tt AS BIGINT) AS p_milli
         FROM c JOIN tot USING (from_type)
         ORDER BY c.from_type, c.to_type"""),

    // Left-outer interval join, batch parity for the streaming form
    // (StreamJoinSpec drives the stream path): every purchase with its
    // in-lookback clicks, or nulls when the user clicked nothing — the
    // enrichment join where absence is itself the signal. Same equi+range
    // plan as q64 without the aggregate, so unmatched rows survive.
    Query("q141_interval_join_outer", (s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"),
          col("event_id").as("click_id"))
      streaming.StreamJoin.intervalJoin(purchases, clicks, "user_id",
          "p_ts", "c_ts", "10 minutes", joinType = "left_outer")
        .select(col("purchase_id"), col("user_id"), col("click_id"))
        .orderBy(col("purchase_id"), col("click_id"))
    }, oracleSql =
      // NULLS FIRST pins DuckDB to Spark's ascending null order on the
      // outer side's null click_id.
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
             FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts AS c_ts, event_id AS click_id
             FROM events WHERE event_type = 'click')
         SELECT p.purchase_id, p.user_id, c.click_id
         FROM p LEFT JOIN c ON c.user_id = p.user_id
           AND c.c_ts >= p.p_ts - INTERVAL 10 MINUTE
           AND c.c_ts <= p.p_ts
         ORDER BY purchase_id, click_id NULLS FIRST"""),

    // Large-volume customers (TPC-H Q18 shape): the fact table collapses
    // to per-order quantity totals FIRST (map-side-combined sum — the
    // only full lineitem pass), the >250 filter shrinks that to a tiny
    // order set, and only THEN do orders/customer join in — AQE turns
    // the filtered side into a broadcast at any scale where it stays
    // small. TakeOrderedAndProject keeps the top-100 without a global
    // sort. Quantities are small integers in doubles, so the sum and the
    // threshold compare are exact.
    Query("q143_large_orders", (s, d) => {
      val tot = t(s, d, "lineitem").groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("tq"))
        .where(col("tq") > 250)
      t(s, d, "orders").join(tot, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"),
          round(col("o_totalprice"), 2).as("total_price"),
          round(col("tq"), 2).as("tot_qty"))
        .orderBy(col("total_price").desc, col("o_orderkey"))
        .limit(100)
    }, oracleSql =
      """WITH tot AS (SELECT l_orderkey, sum(l_quantity) AS tq
                      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250)
         SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS total_price, round(tq, 2) AS tot_qty
         FROM orders JOIN tot ON o_orderkey = tot.l_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY total_price DESC, o_orderkey LIMIT 100"""),

    // Per-user max drawdown of the event value series: running peak via
    // an UNBOUNDED PRECEDING max window (per-user series are bounded at
    // high key cardinality; ONE corpus-sized series would route through
    // ScanOps' segmented scan exactly like the global EWMA), then the
    // max peak-relative drop. Doubles stay untouched until the single
    // terminal round(6): peak is a max (exact), (peak-value)/peak is
    // per-row IEEE arithmetic — identical across engines.
    Query("q144_user_drawdown", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      t(s, d, "events")
        .withColumn("__peak", max(col("value")).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(max(col("__peak")), 6).as("peak"),
          round(max((col("__peak") - col("value")) / col("__peak")), 6)
            .as("max_drawdown"))
        .orderBy(col("user_id"))
    }, oracleSql =
      """WITH p AS (SELECT user_id, value,
             max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS peak
           FROM events)
         SELECT user_id, count(*) AS n_events,
           round(max(peak), 6) AS peak,
           round(max((peak - value) / peak), 6) AS max_drawdown
         FROM p GROUP BY 1 ORDER BY user_id"""),

    // Column profiler — the stats pass a catalog/CBO (or a data-quality
    // gate) runs over a new table: per column null accounting, exact
    // distinct cardinality, min/max. Every column is first canonicalized
    // to ONE sortable string form (zero-padded integers, wall-clock
    // timestamp text, HALF_UP centi-scaled value) so a single narrow
    // 6-way stack feeds one hash aggregate with map-side partials —
    // lexicographic min/max on the canonical form IS the semantic
    // min/max. At 100 TB the exact countDistinct becomes
    // approx_count_distinct; the shape is otherwise unchanged.
    Query("q145_column_profile", (s, d) => {
      val canon = t(s, d, "events").select(
        lpad(col("event_id").cast("string"), 19, "0").as("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        lpad(col("user_id").cast("string"), 19, "0").as("user_id"),
        col("event_type"),
        lpad(floor(col("value") * 100 + 0.5).cast("string"), 12, "0")
          .as("value"),
        col("props"))
      canon.select(expr(
          "stack(6, 'event_id', event_id, 'ts', ts, 'user_id', user_id, " +
            "'event_type', event_type, 'value', value, 'props', props) " +
            "AS (col_name, v)"))
        .groupBy(col("col_name"))
        .agg(count(lit(1)).as("n_rows"), count(col("v")).as("n_nonnull"),
          countDistinct(col("v")).as("n_distinct"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
        .orderBy(col("col_name"))
    }, oracleSql =
      // Same canonical string forms as the Spark side (zero-padded
      // integers sort numerically; wall-clock text sorts chronologically;
      // floor(x*100+0.5) is HALF_UP on the identical double in both
      // engines) — so min/max/distinct agree byte-for-byte.
      """WITH canon AS (SELECT
             lpad(CAST(event_id AS VARCHAR), 19, '0') AS event_id,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
             lpad(CAST(user_id AS VARCHAR), 19, '0') AS user_id,
             event_type,
             lpad(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS VARCHAR),
               12, '0') AS value,
             props
           FROM events),
         l AS (SELECT 'event_id' AS col_name, event_id AS v FROM canon
           UNION ALL SELECT 'ts', ts FROM canon
           UNION ALL SELECT 'user_id', user_id FROM canon
           UNION ALL SELECT 'event_type', event_type FROM canon
           UNION ALL SELECT 'value', value FROM canon
           UNION ALL SELECT 'props', props FROM canon)
         SELECT col_name, count(*) AS n_rows, count(v) AS n_nonnull,
           count(DISTINCT v) AS n_distinct,
           min(v) AS min_v, max(v) AS max_v
         FROM l GROUP BY 1 ORDER BY 1"""),

    // Last-touch attribution: every purchase credited to the user's most
    // recent non-purchase event within a 30-minute window — computed in a
    // SINGLE per-user window pass (last(..., ignoreNulls) carrying both
    // the type and its timestamp), not a self-join; the as-of-join
    // semantics via the ignore-nulls carry idiom. Per-user series are
    // bounded; the rollup is a tiny grouped aggregate.
    Query("q148_last_touch", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val nonP = col("event_type") =!= "purchase"
      t(s, d, "events")
        .withColumn("prev_type",
          last(when(nonP, col("event_type")), ignoreNulls = true).over(w))
        .withColumn("prev_ts",
          last(when(nonP, col("ts")), ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .withColumn("attributed",
          when(col("prev_ts").isNotNull &&
              col("prev_ts") >= col("ts") - expr("INTERVAL 30 MINUTES"),
            col("prev_type")).otherwise(lit("none")))
        .groupBy(col("attributed"))
        .agg(count(lit(1)).as("n_purchases"),
          (sum(floor(col("value") * 100 + lit(0.5))) / lit(100.0)).as("total_value"))
        .orderBy(col("attributed"))
    }, oracleSql =
      """WITH p AS (SELECT user_id, ts, event_type, value,
           last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
             IGNORE NULLS) OVER w AS prev_type,
           last_value(CASE WHEN event_type <> 'purchase' THEN ts END
             IGNORE NULLS) OVER w AS prev_ts
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         SELECT CASE WHEN prev_ts IS NOT NULL
             AND prev_ts >= ts - INTERVAL 30 MINUTE
             THEN prev_type ELSE 'none' END AS attributed,
           count(*) AS n_purchases,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
             AS total_value
         FROM p WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1"""),

    // Hourly resample + forward-fill — the gap-filling the reference's
    // pandas `resample().ffill()` does, distributed: the time spine is
    // GENERATED per type from its min/max hour (sequence+explode — spine
    // size is types × hours, never corpus-sized), hourly aggregates join
    // on, and empty hours carry the last observed (already-rounded) value
    // via the ignore-nulls window. Per-type spine windows are bounded by
    // the calendar, not the data.
    Query("q149_resample_ffill", (s, d) => {
      val ev = t(s, d, "events")
      // The carried value is EXACT integer milli-of-centi (values are
      // centi-precision, so floor(v·100+.5) is lossless): round(avg(),6)
      // sat on a half-ulp boundary at sf0.1 and flipped between engines
      // with the float sum order — integer division cannot.
      val hourly = ev
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n_events"),
          expr("sum(floor(value * 100 + 0.5)) * 1000 div count(*)")
            .as("avg_value"))
      val spine = ev.groupBy(col("event_type"))
        .agg(date_trunc("hour", min(col("ts"))).as("h0"),
          date_trunc("hour", max(col("ts"))).as("h1"))
        .select(col("event_type"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("hour"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      spine.join(hourly, Seq("event_type", "hour"), "left")
        .withColumn("is_gap", col("n_events").isNull.cast("int"))
        .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
        .withColumn("filled_value",
          last(col("avg_value"), ignoreNulls = true).over(w))
        .select(col("event_type"), col("hour"), col("n_events"),
          col("is_gap"), col("filled_value"))
        .orderBy(col("event_type"), col("hour"))
    }, oracleSql =
      // The carried value is exact integer milli-of-centi (see the engine
      // comment): a float avg hit a rounding boundary at sf0.1.
      """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hour,
             count(*) AS n_events,
             CAST(CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) * 1000
               // count(*) AS BIGINT) AS avg_value
           FROM events GROUP BY 1, 2),
         bounds AS (SELECT event_type, date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1 FROM events GROUP BY 1),
         spine AS (SELECT event_type,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
           FROM bounds),
         j AS (SELECT s.event_type, s.hour,
             coalesce(h.n_events, 0) AS n_events,
             CASE WHEN h.n_events IS NULL THEN 1 ELSE 0 END AS is_gap,
             last_value(h.avg_value IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.hour
               ROWS UNBOUNDED PRECEDING) AS filled_value
           FROM spine s LEFT JOIN hourly h
             ON h.event_type = s.event_type AND h.hour = s.hour)
         SELECT event_type, hour, CAST(n_events AS BIGINT) AS n_events,
           is_gap, filled_value
         FROM j ORDER BY event_type, hour"""),

    // Per-type daily trend via closed-form OLS over aggregate sums — the
    // regression a monitoring dashboard fits, with no per-group sort or
    // collect. Integer-exact end-to-end: daily means are milli-of-centi
    // longs (the q149 fill-value fix — round(avg(),6) here flipped on a
    // half-ulp boundary between engines), the OLS sums are exact long
    // products, and the slope lands as a truncated e-5-units integer (the
    // explicit sign split keeps Spark's div-truncates and DuckDB's
    // //-floors on the same nonnegative operands).
    Query("q150_trend_slope", (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          datediff(to_date(col("ts")), to_date(lit("1970-01-01"))).as("day"))
        .agg(expr("sum(floor(value * 100 + 0.5)) * 1000 div count(*)").as("y"))
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("day")).as("sx"), sum(expr("day * day")).as("sxx"),
          sum(col("y")).as("sy"), sum(col("day") * col("y")).as("sxy"))
        .withColumn("__a",
          col("n_days") * col("sxy") - col("sx") * col("sy"))
        .withColumn("__b",
          col("n_days") * col("sxx") - col("sx") * col("sx"))
        .select(col("event_type"), col("n_days"),
          expr("CASE WHEN __a >= 0 THEN __a div __b ELSE -((-__a) div __b) END")
            .as("slope_e5_per_day"),
          expr("sy div n_days").as("mean_daily_e5"))
        .orderBy(col("event_type"))
    }, oracleSql =
      // Integer-exact mirror: milli-of-centi daily means, exact long OLS
      // sums, sign-split truncated division (matches Spark's div).
      """WITH daily AS (SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             CAST(CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) * 1000
               // count(*) AS BIGINT) AS y
           FROM events GROUP BY 1, 2),
         s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(day) AS BIGINT) AS sx,
             CAST(sum(day * day) AS BIGINT) AS sxx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(day * y) AS BIGINT) AS sxy
           FROM daily GROUP BY 1),
         ab AS (SELECT event_type, n_days, sy,
             n_days * sxy - sx * sy AS a, n_days * sxx - sx * sx AS b
           FROM s)
         SELECT event_type, n_days,
           CAST(CASE WHEN a >= 0 THEN a // b ELSE -((-a) // b) END AS BIGINT)
             AS slope_e5_per_day,
           CAST(sy // n_days AS BIGINT) AS mean_daily_e5
         FROM ab ORDER BY event_type"""),

    // Exact price quartiles per return flag WITHOUT a global sort:
    // extendedprice is centi-scaled to integers (HALF_UP on the exact
    // double, same floor(x*100+0.5) both engines), so the corpus
    // collapses to its value histogram and Calibrate.nearestRankCuts
    // reads the cuts off bounded-size cumulative counts. The histogram is
    // bounded by the PRICE DOMAIN (part price × quantity grid), not the
    // row count — at 100 TB it stays millions of rows while the fact
    // table is billions.
    Query("q151_price_quartiles", (s, d) => {
      val centi = t(s, d, "lineitem").select(col("l_returnflag"),
        floor(col("l_extendedprice") * 100 + 0.5).as("cp"))
      val cuts = Calibrate.nearestRankCuts(centi, Seq("l_returnflag"), "cp",
        Seq(25, 50, 75))
      centi.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_rows"))
        .join(broadcast(cuts), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n_rows"),
          col("p25"), col("p50"), col("p75"))
        .orderBy(col("l_returnflag"))
    }, oracleSql =
      // Same nearest-rank cut definition as q142 over the centi-scaled
      // price histogram (floor(x*100+0.5) = HALF_UP on the identical
      // double in both engines).
      """WITH v AS (SELECT l_returnflag,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cp
           FROM lineitem),
         h AS (SELECT l_returnflag, cp, count(*) AS n FROM v GROUP BY 1, 2),
         c AS (SELECT l_returnflag, cp, n,
             sum(n) OVER (PARTITION BY l_returnflag ORDER BY cp
               ROWS UNBOUNDED PRECEDING) AS cum_le,
             sum(n) OVER (PARTITION BY l_returnflag) AS ng
           FROM h),
         cuts AS (SELECT l_returnflag,
             CAST(min(CASE WHEN cum_le >= (25 * ng + 99) // 100 THEN cp END)
               AS BIGINT) AS p25,
             CAST(min(CASE WHEN cum_le >= (50 * ng + 99) // 100 THEN cp END)
               AS BIGINT) AS p50,
             CAST(min(CASE WHEN cum_le >= (75 * ng + 99) // 100 THEN cp END)
               AS BIGINT) AS p75
           FROM c GROUP BY 1)
         SELECT v.l_returnflag, count(*) AS n_rows,
           min(cuts.p25) AS p25, min(cuts.p50) AS p50, min(cuts.p75) AS p75
         FROM v JOIN cuts USING (l_returnflag)
         GROUP BY 1 ORDER BY 1"""),

    // Returned-item revenue loss (TPC-H Q10 shape): the 'R' filter cuts
    // the fact scan first, revenue pre-aggregates per order and then per
    // customer BEFORE any dim join, nation broadcasts, and the top-20
    // rides TakeOrderedAndProject on the rounded loss with a unique
    // custkey tiebreak.
    Query("q154_returned_revenue", (s, d) => {
      val rev = t(s, d, "lineitem").where(col("l_returnflag") === "R")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("lost"))
      t(s, d, "orders").join(rev, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("lost")).as("lost"), count(lit(1)).as("n_orders"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"),
          col("n_orders"), round(col("lost"), 2).as("lost_revenue"))
        .orderBy(col("lost_revenue").desc, col("c_custkey"))
        .limit(20)
    }, oracleSql =
      """WITH rev AS (SELECT l_orderkey,
             sum(l_extendedprice * (1.0 - l_discount)) AS lost
           FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
         byc AS (SELECT o_custkey, sum(rev.lost) AS lost,
             count(*) AS n_orders
           FROM orders JOIN rev ON o_orderkey = rev.l_orderkey GROUP BY 1)
         SELECT c_custkey, c_name, n_name, n_orders,
           round(byc.lost, 2) AS lost_revenue
         FROM byc JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         ORDER BY lost_revenue DESC, c_custkey LIMIT 20"""),

    // Join-key skew profiler — the reading an engineer takes BEFORE
    // choosing salting/AQE-skew settings: per-key row counts collapse to
    // a count histogram (nearestRankCuts' bounded shape), plus the exact
    // share of rows concentrated above the P99 key. One corpus scan
    // builds the per-key frame (materialized); everything downstream is
    // histogram- or single-row-sized.
    Query("q155_key_skew", (s, d) => {
      val perKey = mat(t(s, d, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("n")))
      val cuts = Calibrate.nearestRankCuts(perKey, Seq.empty, "n",
        Seq(50, 90, 99))
      val tail = perKey.crossJoin(broadcast(cuts))
        .where(col("n") >= col("p99"))
        .agg(sum(col("n")).as("tail_rows"))
      perKey.agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
          max(col("n")).as("max_n"))
        .crossJoin(broadcast(cuts)).crossJoin(broadcast(tail))
        .select(col("n_keys"), col("n_rows"), col("max_n"),
          col("p50"), col("p90"), col("p99"),
          expr("tail_rows * 1000000 div n_rows").as("tail_share_ppm"))
    }, oracleSql =
      """WITH pk AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
         h AS (SELECT n AS v, count(*) AS cnt FROM pk GROUP BY 1),
         c AS (SELECT v, cnt,
             sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_le,
             sum(cnt) OVER () AS ng
           FROM h),
         cuts AS (SELECT
             CAST(min(CASE WHEN cum_le >= (50 * ng + 99) // 100 THEN v END)
               AS BIGINT) AS p50,
             CAST(min(CASE WHEN cum_le >= (90 * ng + 99) // 100 THEN v END)
               AS BIGINT) AS p90,
             CAST(min(CASE WHEN cum_le >= (99 * ng + 99) // 100 THEN v END)
               AS BIGINT) AS p99
           FROM c),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(max(n) AS BIGINT) AS max_n FROM pk),
         tl AS (SELECT CAST(sum(pk.n) AS BIGINT) AS tail_rows
                FROM pk, cuts WHERE pk.n >= cuts.p99)
         SELECT n_keys, n_rows, max_n, p50, p90, p99,
           CAST(tail_rows * 1000000 // n_rows AS BIGINT) AS tail_share_ppm
         FROM st, cuts, tl"""),

    // Time-to-convert distribution: seconds from a user's first event to
    // their first purchase, quartiles off the seconds histogram — one
    // conditional-min aggregate over the corpus (no window, no
    // self-join), then histogram-sized work. Epoch math goes through the
    // NTZ-safe TimeOps helpers; the division runs on the DIFFERENCE so
    // both engines floor identically.
    Query("q156_time_to_convert", (s, d) => {
      val per = t(s, d, "events").groupBy(col("user_id"))
        .agg(min(TimeOps.epochMicros(col("ts"))).as("first_us"),
          min(when(col("event_type") === "purchase",
            TimeOps.epochMicros(col("ts")))).as("first_p_us"))
        .where(col("first_p_us").isNotNull)
        .select(expr("(first_p_us - first_us) div 1000000").as("tt_sec"))
      val cuts = Calibrate.nearestRankCuts(per, Seq.empty, "tt_sec",
        Seq(25, 50, 75, 90))
      per.agg(count(lit(1)).as("n_converting"), max(col("tt_sec")).as("max_sec"))
        .crossJoin(broadcast(cuts))
        .select(col("n_converting"), col("p25"), col("p50"), col("p75"),
          col("p90"), col("max_sec"))
    }, oracleSql =
      // The division runs on the µs DIFFERENCE (floor once), mirroring the
      // engine exactly.
      """WITH per AS (SELECT user_id,
             (min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               - min(epoch_us(ts))) // 1000000 AS tt_sec
           FROM events GROUP BY 1
           HAVING min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
             IS NOT NULL),
         h AS (SELECT tt_sec AS v, count(*) AS cnt FROM per GROUP BY 1),
         c AS (SELECT v, cnt,
             sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_le,
             sum(cnt) OVER () AS ng
           FROM h),
         cuts AS (SELECT
             CAST(min(CASE WHEN cum_le >= (25 * ng + 99) // 100 THEN v END)
               AS BIGINT) AS p25,
             CAST(min(CASE WHEN cum_le >= (50 * ng + 99) // 100 THEN v END)
               AS BIGINT) AS p50,
             CAST(min(CASE WHEN cum_le >= (75 * ng + 99) // 100 THEN v END)
               AS BIGINT) AS p75,
             CAST(min(CASE WHEN cum_le >= (90 * ng + 99) // 100 THEN v END)
               AS BIGINT) AS p90
           FROM c),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n_converting,
             CAST(max(tt_sec) AS BIGINT) AS max_sec FROM per)
         SELECT n_converting, p25, p50, p75, p90, max_sec FROM st, cuts"""),

    // Join-cardinality estimation from the key histogram — the CBO read
    // that predicts the q64-family self-join's output size EXACTLY
    // (Σ n²) and names the keys that dominate it, before the join runs.
    // Integer math end-to-end; one corpus scan.
    Query("q159_join_size_estimate", (s, d) => {
      val pk = mat(t(s, d, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("n")))
      val tot = pk.agg(sum(expr("n * n")).as("total_pairs"))
      pk.withColumn("contrib", expr("n * n"))
        .crossJoin(broadcast(tot))
        .select(col("user_id"), col("n"), col("contrib"), col("total_pairs"),
          expr("contrib * 1000000 div total_pairs").as("share_ppm"))
        .orderBy(col("contrib").desc, col("user_id"))
        .limit(5)
    }, oracleSql =
      """WITH pk AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
         tot AS (SELECT CAST(sum(n * n) AS BIGINT) AS total_pairs FROM pk)
         SELECT user_id, CAST(n AS BIGINT) AS n,
           CAST(n * n AS BIGINT) AS contrib, total_pairs,
           CAST(n * n * 1000000 // total_pairs AS BIGINT) AS share_ppm
         FROM pk, tot ORDER BY contrib DESC, user_id LIMIT 5"""),

    // Argmax join: each customer's LATEST order and that order's biggest
    // line item — two max_by(struct) aggregates (deterministic composite
    // tiebreaks) joined on the selected key: the top-1-per-group pattern
    // with NO window sort anywhere, the shape that survives a hot
    // customer at any scale. The oracle reproduces it with rank windows —
    // same deterministic result, independent formulation.
    Query("q160_argmax_join", (s, d) => {
      val lastO = t(s, d, "orders").groupBy(col("o_custkey"))
        .agg(max_by(
          struct(col("o_orderkey"), col("o_orderdate"), col("o_totalprice")),
          struct(col("o_orderdate"), col("o_orderkey"))).as("o"))
        .select(col("o_custkey"), col("o.o_orderkey").as("o_orderkey"),
          col("o.o_orderdate").as("o_orderdate"),
          col("o.o_totalprice").as("o_totalprice"))
      val topLine = t(s, d, "lineitem").groupBy(col("l_orderkey"))
        .agg(max_by(struct(col("l_extendedprice"), col("l_linenumber")),
          struct(col("l_extendedprice"), col("l_linenumber"))).as("l"))
        .select(col("l_orderkey"),
          col("l.l_extendedprice").as("top_line_price"),
          col("l.l_linenumber").as("top_line_no"))
      lastO.join(topLine, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), round(col("o_totalprice"), 2).as("total_price"),
          round(col("top_line_price"), 2).as("top_line_price"),
          col("top_line_no"))
        .orderBy(col("c_custkey"))
        .limit(50)
    }, oracleSql =
      // Independent formulation: rank windows with the same composite
      // tiebreaks select the identical rows the engine's max_by picks.
      """WITH lo AS (SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
           FROM orders),
         sel AS (SELECT * FROM lo WHERE rn = 1),
         tl AS (SELECT l_orderkey, l_extendedprice, l_linenumber,
             row_number() OVER (PARTITION BY l_orderkey
               ORDER BY l_extendedprice DESC, l_linenumber DESC) AS rn
           FROM lineitem),
         seltl AS (SELECT * FROM tl WHERE rn = 1)
         SELECT sel.o_custkey AS c_custkey, sel.o_orderkey, sel.o_orderdate,
           round(sel.o_totalprice, 2) AS total_price,
           round(seltl.l_extendedprice, 2) AS top_line_price,
           seltl.l_linenumber AS top_line_no
         FROM sel JOIN seltl ON sel.o_orderkey = seltl.l_orderkey
         ORDER BY c_custkey LIMIT 50"""),

    // Rolling 7-day active users, EXACTLY, via the offset-explode trick:
    // the (day, user) distinct pairs expand 7× onto the days they cover
    // and the rolling distinct becomes a plain groupBy-countDistinct —
    // an EQUI-join shape (no range join, no repeated window scans), the
    // standard way sliding-window distinct survives scale. The spine
    // bounds clip partial windows at the corpus edge.
    Query("q161_rolling_wau", (s, d) => {
      val pairs = mat(t(s, d, "events")
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct())
      val bounds = pairs.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      pairs
        .select(col("user_id"), col("day"),
          explode(expr("sequence(0, 6)")).as("o"))
        .select(col("user_id"), expr("date_add(day, o)").as("d"))
        .crossJoin(broadcast(bounds))
        .where(col("d") >= col("d0") && col("d") <= col("d1"))
        .groupBy(col("d"))
        .agg(countDistinct(col("user_id")).as("wau"))
        .orderBy(col("d"))
    }, oracleSql =
      """WITH pairs AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
           FROM events),
         bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM pairs),
         ex AS (SELECT p.user_id, p.day + CAST(o.o AS INTEGER) AS d
                FROM pairs p, (SELECT unnest(range(0, 7)) AS o) o)
         SELECT d, count(DISTINCT user_id) AS wau
         FROM ex, bounds WHERE d >= d0 AND d <= d1
         GROUP BY d ORDER BY d"""),

    // Shipping-priority mix per ship month (TPC-H Q12 shape): the fact
    // join keyed by orderkey with the priority classification folded into
    // TWO conditional counts (one pass, no pivot), plus the exact
    // integer-milli mean order→ship delay.
    Query("q162_ship_priority_mix", (s, d) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(date_trunc("month", col("l_shipdate")).as("ship_month"))
        .agg(sum(when(hi, 1L).otherwise(0L)).as("n_high"),
          sum(when(hi, 0L).otherwise(1L)).as("n_low"),
          expr("sum(datediff(to_date(l_shipdate), to_date(o_orderdate))) " +
            "* 1000 div count(*)").as("delay_days_milli"))
        .orderBy(col("ship_month"))
    }, oracleSql =
      """SELECT date_trunc('month', l_shipdate) AS ship_month,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 0 ELSE 1 END) AS BIGINT) AS n_low,
           CAST(sum(date_diff('day', CAST(o_orderdate AS DATE),
               CAST(l_shipdate AS DATE))) * 1000 // count(*) AS BIGINT)
             AS delay_days_milli
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY ship_month"""),

    // Sequential pattern mining (lite): the corpus's most common 3-event
    // behavior motifs — per-user ordered trigrams of event types via two
    // scan-local lags, then a map-side-combined global count with
    // distinct-user reach; top-20 rides TakeOrderedAndProject.
    Query("q163_event_trigrams", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("t1", lag(col("event_type"), 1).over(w))
        .withColumn("t2", lag(col("event_type"), 2).over(w))
        .where(col("t2").isNotNull)
        .select(col("user_id"),
          concat_ws(">", col("t2"), col("t1"), col("event_type")).as("motif"))
        .groupBy(col("motif"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("n").desc, col("motif"))
        .limit(20)
    }, oracleSql =
      """WITH g AS (SELECT user_id, event_type,
             lag(event_type, 1) OVER w AS t1,
             lag(event_type, 2) OVER w AS t2
           FROM events WINDOW w AS (PARTITION BY user_id
             ORDER BY ts, event_id)),
         m AS (SELECT user_id, t2 || '>' || t1 || '>' || event_type AS motif
               FROM g WHERE t2 IS NOT NULL)
         SELECT motif, count(*) AS n, count(DISTINCT user_id) AS n_users
         FROM m GROUP BY 1 ORDER BY n DESC, motif LIMIT 20"""),

    // Revenue-change forecast (TPC-H Q6 shape): the pure scan-aggregate —
    // every predicate (year, discount band, quantity cap) pushes into the
    // parquet scan, no join, one map-side-combined global sum. The
    // double literals compare against the same stored doubles in both
    // engines, so the filter set is identical.
    Query("q164_forecast_revenue", (s, d) =>
      t(s, d, "lineitem")
        .where(year(col("l_shipdate")) === 1996 &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(count(lit(1)).as("n_lines"),
          (sum(floor(col("l_extendedprice") * 100 + lit(0.5)) *
              floor(col("l_discount") * 100 + lit(0.5))) / lit(10000.0))
            .as("revenue_increase")), oracleSql =
      """SELECT count(*) AS n_lines,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT)
             / 10000.0 AS revenue_increase
         FROM lineitem
         WHERE year(l_shipdate) = 1996
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24"""),

    // Customer order-count distribution (TPC-H Q13 shape): the left join
    // keeps zero-order customers in the histogram — count(o_orderkey)
    // counts matches only — then the doc-count frame collapses to the
    // distribution; both aggregates map-side combine.
    Query("q165_customer_distribution", (s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc), oracleSql =
      """WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY 1)
         SELECT c_count, count(*) AS custdist FROM co
         GROUP BY 1 ORDER BY custdist DESC, c_count DESC"""),

    // Promotion revenue share per ship month (TPC-H Q14 shape): the part
    // dim broadcasts into the fact pass, the promo flag folds into a
    // conditional sum — one join, one aggregate, one terminal round on
    // the share ratio.
    Query("q166_promo_share", (s, d) =>
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .withColumn("__rev_e4",
          floor(col("l_extendedprice") * 100 + lit(0.5)) *
            (lit(100) - floor(col("l_discount") * 100 + lit(0.5))))
        .groupBy(date_trunc("month", col("l_shipdate")).as("ship_month"))
        // Both the share's numerator/denominator and the 2-dp total are
        // exact e4-grid longs; the share's one division is the same IEEE
        // op on the same integers in both engines.
        .agg(sum(when(col("p_type") === "PROMO", col("__rev_e4"))
            .otherwise(lit(0L))).as("__promo_e4"),
          sum(col("__rev_e4")).as("__tot_e4"))
        .select(col("ship_month"),
          round(col("__promo_e4").cast("double") / col("__tot_e4"), 6)
            .as("promo_share"),
          (col("__tot_e4") / lit(10000.0)).as("total_revenue"))
        .orderBy(col("ship_month")), oracleSql =
      """WITH e AS (SELECT l_shipdate, p_type,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
               * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS rev_e4
           FROM lineitem JOIN part ON l_partkey = p_partkey)
         SELECT date_trunc('month', l_shipdate) AS ship_month,
           round(CAST(CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_e4
               ELSE 0 END) AS BIGINT) AS DOUBLE)
             / CAST(sum(rev_e4) AS BIGINT), 6) AS promo_share,
           CAST(sum(rev_e4) AS BIGINT) / 10000.0 AS total_revenue
         FROM e GROUP BY 1 ORDER BY ship_month"""),

    // Time-weighted average price per (type, day): each observation
    // weighted by its holding time to the next same-day event — the TWAP
    // a fill-quality report uses, vs the plain mean that over-weights
    // burst periods. The lead window partitions by (type, day), so no
    // partition outgrows a day; durations are exact integer micros via
    // the NTZ-safe epoch helper.
    // Integer-exact: values are centi-grid, so the time-weighted sum is an
    // exact long (centi·µs ≤ 5.6e4·8.64e10 per day-group — no overflow),
    // and the TWAP lands as centi + remainder-ppm integers instead of a
    // round(float-sum / float-sum, 6) whose partition-order noise is the
    // q108/q149 cross-engine class.
    Query("q172_twap", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"), col("day"))
        .orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("day", to_date(col("ts")))
        .withColumn("us", TimeOps.epochMicros(col("ts")))
        .withColumn("vc", expr("floor(value * 100 + 0.5)"))
        .withColumn("dur_us", lead(col("us"), 1).over(w) - col("us"))
        .where(col("dur_us").isNotNull)
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n_intervals"),
          expr("sum(vc * dur_us)").as("__svd"),
          sum(col("dur_us")).as("__sd"),
          sum(col("vc")).as("__sv"))
        .select(col("event_type"), col("day"), col("n_intervals"),
          expr("__svd div __sd").as("twap_centi"),
          expr("(__svd % __sd) * 1000000 div __sd").as("twap_frac_ppm"),
          expr("__sv * 1000 div n_intervals").as("plain_centimilli"))
        .orderBy(col("event_type"), col("day"))
    }, oracleSql =
      """WITH e2 AS (SELECT event_type, CAST(ts AS DATE) AS day, ts,
             event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
             epoch_us(ts) AS us FROM events),
         l AS (SELECT event_type, day, vc,
             lead(us) OVER (PARTITION BY event_type, day
               ORDER BY ts, event_id) - us AS dur_us
           FROM e2)
         SELECT event_type, day, count(*) AS n_intervals,
           CAST(sum(vc * dur_us) // sum(dur_us) AS BIGINT) AS twap_centi,
           CAST((sum(vc * dur_us) % sum(dur_us)) * 1000000 // sum(dur_us)
             AS BIGINT) AS twap_frac_ppm,
           CAST(CAST(sum(vc) AS BIGINT) * 1000 // count(*) AS BIGINT)
             AS plain_centimilli
         FROM l WHERE dur_us IS NOT NULL
         GROUP BY 1, 2 ORDER BY event_type, day"""),

    // Exact Spearman rank correlation WITHOUT ranking rows: both columns
    // live on tiny value domains (quantity 1-50, centi-discount 0-10), so
    // tie-averaged ranks come off the value histograms — doubled
    // (rank2 = 2·cum_lt + cnt + 1) to stay INTEGER — and broadcast back
    // as ≤51-row dims. Sums accumulate in DECIMAL(38,0) (exact at any
    // row count; plain longs overflow past ~1e12 rows), and the one
    // irrational step (sqrt) runs on the final scalars. Pearson on the
    // raw values rides along for contrast.
    Query("q175_spearman", (s, d) => {
      val li = t(s, d, "lineitem").select(
        col("l_quantity").cast("long").as("x"),
        floor(col("l_discount") * 100 + 0.5).as("y"))
      def rankDim(c: String): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window.orderBy(col(c))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        li.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
          .withColumn("cum_lt", coalesce(sum(col("cnt")).over(w), lit(0L)))
          .select(col(c), (col("cum_lt") * 2 + col("cnt") + 1).as(s"r_$c"))
      }
      val dec = "decimal(38,0)"
      li.join(broadcast(rankDim("x")), Seq("x"))
        .join(broadcast(rankDim("y")), Seq("y"))
        // operands cast to decimal BEFORE multiplying: a Long product of
        // two ~2n ranks wraps past ~1.5e9 rows, silently, ahead of any
        // outer cast (the oracle's HUGEINT product has no such cliff)
        .agg(count(lit(1)).cast(dec).as("n"),
          sum(col("r_x").cast(dec)).as("sx"), sum(col("r_y").cast(dec)).as("sy"),
          sum(col("r_x").cast(dec) * col("r_x").cast(dec)).as("sxx"),
          sum(col("r_y").cast(dec) * col("r_y").cast(dec)).as("syy"),
          sum(col("r_x").cast(dec) * col("r_y").cast(dec)).as("sxy"),
          round(corr(col("x"), col("y")), 6).as("pearson_raw"))
        .select(col("n").cast("long").as("n_rows"), col("pearson_raw"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
             sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))), 6)
            .as("spearman_rho"))
    }, oracleSql =
      // Doubled tie-averaged ranks (2·cum_lt + cnt + 1) off the value
      // histograms; HUGEINT sums; sqrt only on the final scalars.
      """WITH v AS (SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS y
           FROM lineitem),
         rx AS (SELECT x, 2 * coalesce(sum(cnt) OVER (ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + cnt + 1 AS r_x
           FROM (SELECT x, count(*) AS cnt FROM v GROUP BY 1)),
         ry AS (SELECT y, 2 * coalesce(sum(cnt) OVER (ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + cnt + 1 AS r_y
           FROM (SELECT y, count(*) AS cnt FROM v GROUP BY 1)),
         j AS (SELECT v.x, v.y, rx.r_x, ry.r_y
               FROM v JOIN rx USING (x) JOIN ry USING (y)),
         s AS (SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(r_x) AS HUGEINT) AS sx,
             CAST(sum(r_y) AS HUGEINT) AS sy,
             CAST(sum(r_x * r_x) AS HUGEINT) AS sxx,
             CAST(sum(r_y * r_y) AS HUGEINT) AS syy,
             CAST(sum(r_x * r_y) AS HUGEINT) AS sxy,
             round(corr(x, y), 6) AS pearson_raw
           FROM j)
         SELECT CAST(n AS BIGINT) AS n_rows, pearson_raw,
           round(CAST(n * sxy - sx * sy AS DOUBLE) /
             (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
              * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS spearman_rho
         FROM s"""),

    // A/B test readout on a hash-stable user split (md5 parity — the
    // same engine-independent assignment the splits use): per-arm
    // conversion in integer ppm plus the pooled two-proportion z-score.
    // One conditional-max per user, then a 2-row rollup.
    Query("q178_ab_test", (s, d) => {
      val per = t(s, d, "events").groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("conv"))
        .withColumn("arm", functions.Draws.md5Draw(col("user_id"), 2L))
      val arms = per.groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
      val a = arms.where(col("arm") === 0)
        .select(col("n").as("n_a"), col("c").as("conv_a"))
      val b = arms.where(col("arm") === 1)
        .select(col("n").as("n_b"), col("c").as("conv_b"))
      a.crossJoin(broadcast(b))
        .withColumn("rate_a_ppm", expr("conv_a * 1000000 div n_a"))
        .withColumn("rate_b_ppm", expr("conv_b * 1000000 div n_b"))
        .withColumn("__p", (col("conv_a") + col("conv_b")) /
          (col("n_a") + col("n_b")))
        // degenerate pooled rate (all or none converted) ⇒ zero variance
        // and an undefined z; report 0 instead of dividing by zero
        .withColumn("z_score",
          when(col("__p") > 0 && col("__p") < 1, round(
            (col("conv_b") / col("n_b") - col("conv_a") / col("n_a")) /
            sqrt(col("__p") * (lit(1.0) - col("__p")) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6))
          .otherwise(lit(0.0)))
        .select(col("n_a"), col("conv_a"), col("rate_a_ppm"),
          col("n_b"), col("conv_b"), col("rate_b_ppm"), col("z_score"))
    }, oracleSql =
      """WITH per AS (SELECT user_id,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
             CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
               AS BIGINT) % 2 AS arm
           FROM events GROUP BY 1),
         arms AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(conv) AS BIGINT) AS c FROM per GROUP BY 1),
         a AS (SELECT n AS n_a, c AS conv_a FROM arms WHERE arm = 0),
         b AS (SELECT n AS n_b, c AS conv_b FROM arms WHERE arm = 1),
         j AS (SELECT *,
             CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS p
           FROM a CROSS JOIN b)
         SELECT n_a, conv_a, CAST(conv_a * 1000000 // n_a AS BIGINT)
             AS rate_a_ppm,
           n_b, conv_b, CAST(conv_b * 1000000 // n_b AS BIGINT) AS rate_b_ppm,
           CASE WHEN p > 0 AND p < 1 THEN
             round((CAST(conv_b AS DOUBLE) / n_b
                 - CAST(conv_a AS DOUBLE) / n_a)
               / sqrt(p * (1.0 - p) * (1.0 / n_a + 1.0 / n_b)), 6)
           ELSE 0.0 END AS z_score
         FROM j"""),

    // Longest activity streaks — the gaps-and-islands shape: per-user
    // distinct active days minus their row_number collapse each
    // consecutive run onto one island date, islands aggregate to
    // (length, start), and the global top-20 rides
    // TakeOrderedAndProject. Windows stay per-user (bounded by the
    // calendar).
    Query("q179_streaks", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("day"))
      t(s, d, "events").select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
        .withColumn("island", date_sub(col("day"), row_number().over(w)))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("streak_days"), min(col("day")).as("start_day"))
        .select(col("user_id"), col("streak_days"), col("start_day"))
        .orderBy(col("streak_days").desc, col("user_id"), col("start_day"))
        .limit(20)
    }, oracleSql =
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
           FROM events),
         isl AS (SELECT user_id, day,
             day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
               AS INTEGER) AS island
           FROM days),
         st AS (SELECT user_id, island, count(*) AS streak_days,
             min(day) AS start_day
           FROM isl GROUP BY 1, 2)
         SELECT user_id, streak_days, start_day FROM st
         ORDER BY streak_days DESC, user_id, start_day LIMIT 20"""),

    // Tukey-fence outlier counts per return flag: the 1.5·IQR rule on
    // centi-scaled prices with the quartiles off the value histogram
    // (q151's machinery) — fences and counts all exact integers, no
    // global sort at any scale.
    Query("q183_iqr_outliers", (s, d) => {
      val centi = t(s, d, "lineitem").select(col("l_returnflag"),
        floor(col("l_extendedprice") * 100 + 0.5).as("cp"))
      val cuts = Calibrate.nearestRankCuts(centi, Seq("l_returnflag"), "cp",
          Seq(25, 75))
        .withColumn("lo_fence", expr("p25 - (3 * (p75 - p25)) div 2"))
        .withColumn("hi_fence", expr("p75 + (3 * (p75 - p25)) div 2"))
      centi.join(broadcast(cuts), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("lo_fence")).as("lo_fence"),
          min(col("hi_fence")).as("hi_fence"),
          sum(when(col("cp") < col("lo_fence"), 1L).otherwise(0L)).as("n_low"),
          sum(when(col("cp") > col("hi_fence"), 1L).otherwise(0L)).as("n_high"))
        .orderBy(col("l_returnflag"))
    }, oracleSql =
      """WITH v AS (SELECT l_returnflag,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cp
           FROM lineitem),
         h AS (SELECT l_returnflag, cp, count(*) AS n FROM v GROUP BY 1, 2),
         c AS (SELECT l_returnflag, cp, n,
             sum(n) OVER (PARTITION BY l_returnflag ORDER BY cp
               ROWS UNBOUNDED PRECEDING) AS cum_le,
             sum(n) OVER (PARTITION BY l_returnflag) AS ng
           FROM h),
         cuts AS (SELECT l_returnflag,
             CAST(min(CASE WHEN cum_le >= (25 * ng + 99) // 100 THEN cp END)
               AS BIGINT) AS p25,
             CAST(min(CASE WHEN cum_le >= (75 * ng + 99) // 100 THEN cp END)
               AS BIGINT) AS p75
           FROM c GROUP BY 1),
         f AS (SELECT l_returnflag, p25 - (3 * (p75 - p25)) // 2 AS lo_fence,
                 p75 + (3 * (p75 - p25)) // 2 AS hi_fence
               FROM cuts)
         SELECT v.l_returnflag, count(*) AS n_rows,
           CAST(min(f.lo_fence) AS BIGINT) AS lo_fence,
           CAST(min(f.hi_fence) AS BIGINT) AS hi_fence,
           CAST(sum(CASE WHEN v.cp < f.lo_fence THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low,
           CAST(sum(CASE WHEN v.cp > f.hi_fence THEN 1 ELSE 0 END) AS BIGINT)
             AS n_high
         FROM v JOIN f USING (l_returnflag)
         GROUP BY 1 ORDER BY 1"""),

    // Additive seasonal decomposition per event type: value minus the
    // hour-of-day and day-of-week effects (each a broadcast profile dim,
    // the q05/q06 tables put to work), with residual vs raw variance —
    // the "how much of the signal is calendar" read. Three tiny profile
    // aggregates and one fact pass.
    // Integer-exact throughout: centi values scale to milli-of-centi
    // longs, the calendar profile means are truncated integer divisions,
    // residuals stay integers, and both variances come out of the
    // n·Σx²−(Σx)² identity in DECIMAL(38,0) — no order-dependent double
    // mean or square reaches the compare (the q108/q149 class; the old
    // round(avg(v²)−avg(v)², 6) chain carried four float accumulations).
    Query("q184_seasonal_decomposition", (s, d) => {
      val ev = t(s, d, "events").select(col("event_type"),
        expr("floor(value * 100 + 0.5)").as("vc"),
        hour(col("ts")).as("hr"), dayofweek(col("ts")).as("dow"))
      val mh = ev.groupBy(col("event_type"), col("hr"))
        .agg(expr("sum(vc) * 1000 div count(*)").as("m_hr"))
      val md = ev.groupBy(col("event_type"), col("dow"))
        .agg(expr("sum(vc) * 1000 div count(*)").as("m_dow"))
      val g = ev.groupBy(col("event_type"))
        .agg(expr("sum(vc) * 1000 div count(*)").as("m_all"))
      ev.join(broadcast(mh), Seq("event_type", "hr"))
        .join(broadcast(md), Seq("event_type", "dow"))
        .join(broadcast(g), Seq("event_type"))
        .withColumn("x", expr("vc * 1000"))
        .withColumn("res", expr("x - m_hr - m_dow + m_all"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("__sxx"),
          sum(col("x").cast("decimal(38,0)")).as("__sx"),
          sum(expr("CAST(res AS DECIMAL(38,0)) * res")).as("__srr"),
          sum(col("res").cast("decimal(38,0)")).as("__sr"))
        .select(col("event_type"), col("n"),
          expr("(n * __sxx - __sx * __sx) div (n * n * 10000)")
            .as("raw_var_micro"),
          expr("(n * __srr - __sr * __sr) div (n * n * 10000)")
            .as("resid_var_micro"))
        .orderBy(col("event_type"))
    }, oracleSql =
      // Integer-exact mirror of the milli-of-centi profile means and the
      // n·Σx²−(Σx)² variance identity (HUGEINT sums, // division).
      """WITH e2 AS (SELECT event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
             CAST(hour(ts) AS INTEGER) AS hr,
             CAST(dayofweek(ts) + 1 AS INTEGER) AS dow
           FROM events),
         mh AS (SELECT event_type, hr,
             CAST(sum(vc) * 1000 // count(*) AS BIGINT) AS m_hr
           FROM e2 GROUP BY 1, 2),
         md AS (SELECT event_type, dow,
             CAST(sum(vc) * 1000 // count(*) AS BIGINT) AS m_dow
           FROM e2 GROUP BY 1, 2),
         g AS (SELECT event_type,
             CAST(sum(vc) * 1000 // count(*) AS BIGINT) AS m_all
           FROM e2 GROUP BY 1),
         r AS (SELECT e2.event_type, e2.vc * 1000 AS x,
                 e2.vc * 1000 - mh.m_hr - md.m_dow + g.m_all AS res
               FROM e2 JOIN mh USING (event_type, hr)
                       JOIN md USING (event_type, dow)
                       JOIN g USING (event_type))
         SELECT event_type, count(*) AS n,
           CAST((count(*) * sum(x * x) - sum(x) * sum(x))
             // (count(*) * count(*) * 10000) AS BIGINT) AS raw_var_micro,
           CAST((count(*) * sum(res * res) - sum(res) * sum(res))
             // (count(*) * count(*) * 10000) AS BIGINT) AS resid_var_micro
         FROM r GROUP BY 1 ORDER BY 1"""),

    // Effort-to-convert distribution: events a user generates STRICTLY
    // before their first purchase — one conditional-min + conditional-sum
    // aggregate per user (no window, no self-join), quartiles off the
    // bounded count histogram.
    Query("q187_events_to_convert", (s, d) => {
      val firstPurchase = t(s, d, "events")
        .withColumn("us", TimeOps.epochMicros(col("ts")))
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "purchase", col("us"))).as("p_us"))
        .where(col("p_us").isNotNull)
      val withBefore = t(s, d, "events")
        .withColumn("us", TimeOps.epochMicros(col("ts")))
        .join(firstPurchase, Seq("user_id"))
        .groupBy(col("user_id"))
        .agg(sum(when(col("us") < col("p_us"), 1L).otherwise(0L)).as("v"))
      val cuts = Calibrate.nearestRankCuts(withBefore, Seq.empty, "v",
        Seq(25, 50, 75))
      withBefore.agg(count(lit(1)).as("n_converting"),
          max(col("v")).as("max_events_before"))
        .crossJoin(broadcast(cuts))
        .select(col("n_converting"), col("p25"), col("p50"), col("p75"),
          col("max_events_before"))
    }, oracleSql =
      """WITH fp AS (SELECT user_id,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS p_us
           FROM events GROUP BY 1
           HAVING min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
             IS NOT NULL),
         wb AS (SELECT e.user_id,
             CAST(sum(CASE WHEN epoch_us(e.ts) < fp.p_us THEN 1 ELSE 0 END)
               AS BIGINT) AS v
           FROM events e JOIN fp USING (user_id) GROUP BY 1),
         h AS (SELECT v, count(*) AS cnt FROM wb GROUP BY 1),
         c AS (SELECT v, cnt,
             sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_le,
             sum(cnt) OVER () AS ng
           FROM h),
         cuts AS (SELECT
             CAST(min(CASE WHEN cum_le >= (25 * ng + 99) // 100 THEN v END)
               AS BIGINT) AS p25,
             CAST(min(CASE WHEN cum_le >= (50 * ng + 99) // 100 THEN v END)
               AS BIGINT) AS p50,
             CAST(min(CASE WHEN cum_le >= (75 * ng + 99) // 100 THEN v END)
               AS BIGINT) AS p75
           FROM c),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n_converting,
             CAST(max(v) AS BIGINT) AS max_events_before FROM wb)
         SELECT n_converting, p25, p50, p75, max_events_before
         FROM st, cuts"""),

    // Brand price realization: achieved per-unit revenue vs the part's
    // list price, in exact integer ppm — the margin read over the part
    // dim. Revenue and quantity pre-aggregate per part BEFORE the
    // broadcast dim join; one fact pass.
    Query("q188_brand_margin", (s, d) => {
      // Integer-exact on the centi/e-4 grids (the q01 pattern): per-part
      // revenue sums as exact longs, the brand ratio lands as integer ppm
      // via one DECIMAL division — the float-sum/ratio forms are the
      // q108/q149 partition-order class.
      val per = t(s, d, "lineitem").groupBy(col("l_partkey"))
        .agg(sum(expr("floor(l_extendedprice * 100 + 0.5)" +
            " * (100 - floor(l_discount * 100 + 0.5))")).as("rev_e4"),
          sum(floor(col("l_quantity") + 0.5)).as("qty"))
      per.join(broadcast(t(s, d, "part")),
          col("l_partkey") === col("p_partkey"))
        .withColumn("rp_centi", floor(col("p_retailprice") * 100 + 0.5))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("rev_e4")).as("__rev_e4"),
          sum(col("qty")).as("units"),
          sum(expr("qty * rp_centi")).as("__den_centi"))
        .select(col("p_brand"), col("n_parts"),
          expr("__rev_e4 / 10000.0d").as("revenue"),
          col("units"),
          expr("CAST(__rev_e4 AS DECIMAL(38,0)) * 10000 div __den_centi")
            .as("realization_ppm"))
        .orderBy(col("p_brand"))
    }, oracleSql =
      """WITH per AS (SELECT l_partkey,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
               * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))
               AS BIGINT) AS rev_e4,
             CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
               AS qty
           FROM lineitem GROUP BY 1)
         SELECT p_brand, count(*) AS n_parts,
           CAST(sum(rev_e4) AS BIGINT) / 10000.0 AS revenue,
           CAST(sum(qty) AS BIGINT) AS units,
           CAST(sum(rev_e4) * 10000
             // sum(qty * CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS realization_ppm
         FROM per JOIN part ON l_partkey = p_partkey
         GROUP BY 1 ORDER BY 1"""),

    // Revenue by global price quartile band: q151's histogram cuts become
    // a broadcast 1-row dim and every line item labels itself with pure
    // column logic — the banded reporting read, no sort anywhere.
    Query("q192_price_band_revenue", (s, d) => {
      val centi = t(s, d, "lineitem").select(
        floor(col("l_extendedprice") * 100 + 0.5).as("cp"),
        col("l_extendedprice"), col("l_discount"))
      val cuts = Calibrate.nearestRankCuts(centi.select(col("cp")), Seq.empty,
        "cp", Seq(25, 50, 75))
      centi.crossJoin(broadcast(cuts))
        .withColumn("band", when(col("cp") <= col("p25"), "q1_low")
          .when(col("cp") <= col("p50"), "q2_mid_low")
          .when(col("cp") <= col("p75"), "q3_mid_high")
          .otherwise("q4_high"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_rows"),
          (sum(col("cp") * (lit(100) - floor(col("l_discount") * 100 + lit(0.5))))
            / lit(10000.0)).as("revenue"))
        .orderBy(col("band"))
    }, oracleSql =
      """WITH v AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             AS cp, l_extendedprice, l_discount FROM lineitem),
         h AS (SELECT cp, count(*) AS n FROM v GROUP BY 1),
         c AS (SELECT cp, n,
             sum(n) OVER (ORDER BY cp ROWS UNBOUNDED PRECEDING) AS cum_le,
             sum(n) OVER () AS ng FROM h),
         cuts AS (SELECT
             CAST(min(CASE WHEN cum_le >= (25 * ng + 99) // 100 THEN cp END)
               AS BIGINT) AS p25,
             CAST(min(CASE WHEN cum_le >= (50 * ng + 99) // 100 THEN cp END)
               AS BIGINT) AS p50,
             CAST(min(CASE WHEN cum_le >= (75 * ng + 99) // 100 THEN cp END)
               AS BIGINT) AS p75
           FROM c),
         b AS (SELECT CASE WHEN v.cp <= cuts.p25 THEN 'q1_low'
                 WHEN v.cp <= cuts.p50 THEN 'q2_mid_low'
                 WHEN v.cp <= cuts.p75 THEN 'q3_mid_high'
                 ELSE 'q4_high' END AS band,
               v.cp * (100 - CAST(floor(v.l_discount * 100 + 0.5) AS BIGINT))
                 AS rev_e4
             FROM v CROSS JOIN cuts)
         SELECT band, count(*) AS n_rows,
           CAST(sum(rev_e4) AS BIGINT) / 10000.0 AS revenue
         FROM b GROUP BY 1 ORDER BY 1"""),

    // Dual-feed reconciliation — the fintech "do both vendors agree"
    // report: events hash-split into two feeds, per-minute per-type means
    // in EXACT integer milli-of-centi for each feed (one conditional
    // aggregate, no pivot), then the per-type agreement rollup: minutes
    // covered by both, mean and max absolute divergence.
    Query("q193_feed_reconciliation", (s, d) => {
      val ev = t(s, d, "events")
        .withColumn("feed", functions.Draws.md5Draw(col("event_id"), 2L))
        .withColumn("c", floor(col("value") * 100 + 0.5))
        .withColumn("minute", date_trunc("minute", col("ts")))
      val per = ev.groupBy(col("event_type"), col("minute"))
        .agg(sum(when(col("feed") === 0, col("c"))).as("sa"),
          count(when(col("feed") === 0, 1)).as("na"),
          sum(when(col("feed") === 1, col("c"))).as("sb"),
          count(when(col("feed") === 1, 1)).as("nb"))
        .withColumn("da", expr("CASE WHEN na > 0 THEN sa * 1000 div na END"))
        .withColumn("db", expr("CASE WHEN nb > 0 THEN sb * 1000 div nb END"))
      per.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_minutes"),
          sum(when(col("da").isNotNull && col("db").isNotNull, 1L)
            .otherwise(0L)).as("n_both"),
          sum(when(col("da").isNotNull && col("db").isNotNull,
            abs(col("da") - col("db"))).otherwise(0L)).as("__sumdiff"),
          max(when(col("da").isNotNull && col("db").isNotNull,
            abs(col("da") - col("db")))).as("max_absdiff"))
        .withColumn("mean_absdiff",
          when(col("n_both") > 0, expr("__sumdiff div n_both")).otherwise(0L))
        .withColumn("max_absdiff", coalesce(col("max_absdiff"), lit(0L)))
        .select(col("event_type"), col("n_minutes"), col("n_both"),
          col("mean_absdiff"), col("max_absdiff"))
        .orderBy(col("event_type"))
    }, oracleSql =
      """WITH ev AS (SELECT event_type, date_trunc('minute', ts) AS minute,
             CAST('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8)
               AS BIGINT) % 2 AS feed,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
           FROM events),
         per AS (SELECT event_type, minute,
             CAST(sum(CASE WHEN feed = 0 THEN c END) AS BIGINT) AS sa,
             count(CASE WHEN feed = 0 THEN 1 END) AS na,
             CAST(sum(CASE WHEN feed = 1 THEN c END) AS BIGINT) AS sb,
             count(CASE WHEN feed = 1 THEN 1 END) AS nb
           FROM ev GROUP BY 1, 2),
         d AS (SELECT event_type,
             CASE WHEN na > 0 THEN sa * 1000 // na END AS da,
             CASE WHEN nb > 0 THEN sb * 1000 // nb END AS db
           FROM per)
         SELECT event_type, count(*) AS n_minutes,
           CAST(sum(CASE WHEN da IS NOT NULL AND db IS NOT NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
           CAST(CASE WHEN sum(CASE WHEN da IS NOT NULL AND db IS NOT NULL
               THEN 1 ELSE 0 END) > 0
             THEN sum(CASE WHEN da IS NOT NULL AND db IS NOT NULL
                 THEN abs(da - db) ELSE 0 END)
               // sum(CASE WHEN da IS NOT NULL AND db IS NOT NULL
                 THEN 1 ELSE 0 END)
             ELSE 0 END AS BIGINT) AS mean_absdiff,
           CAST(coalesce(max(CASE WHEN da IS NOT NULL AND db IS NOT NULL
             THEN abs(da - db) END), 0) AS BIGINT) AS max_absdiff
         FROM d GROUP BY 1 ORDER BY 1"""),

    // Out-of-order ingestion audit — the measurement that SIZES a
    // streaming watermark: within each user's arrival order (event_id),
    // how often does event time regress, and by how much? One per-user
    // running-max window (bounded series), one global rollup.
    Query("q194_ooo_audit", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      t(s, d, "events")
        .withColumn("us", TimeOps.epochMicros(col("ts")))
        .withColumn("prev_max", max(col("us")).over(w))
        .where(col("prev_max").isNotNull)
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("us") < col("prev_max"), 1L).otherwise(0L)).as("n_late"),
          expr("sum(CASE WHEN us < prev_max THEN 1 ELSE 0 END) * 1000000" +
            " div count(*)").as("late_ppm"),
          coalesce(max(when(col("us") < col("prev_max"),
            expr("(prev_max - us) div 1000000"))), lit(0L))
            .as("max_lateness_sec"))
    }, oracleSql =
      """WITH s AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         p AS (SELECT user_id, us,
             max(us) OVER (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
           FROM s)
         SELECT count(*) AS n_events,
           CAST(sum(CASE WHEN us < prev_max THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           CAST(sum(CASE WHEN us < prev_max THEN 1 ELSE 0 END) * 1000000
             // count(*) AS BIGINT) AS late_ppm,
           CAST(coalesce(max(CASE WHEN us < prev_max
             THEN (prev_max - us) // 1000000 END), 0) AS BIGINT)
             AS max_lateness_sec
         FROM p WHERE prev_max IS NOT NULL"""),

    // First-week retention bitmaps: each user's active days 0-6 relative
    // to their own first day packed into one integer mask — the
    // compressed retention triangle; patterns histogram with exact
    // bit_count. Distinct (user, day) pairs, one keyed rejoin for the
    // per-user epoch, integer bit math end-to-end.
    Query("q196_retention_bitmap", (s, d) => {
      val pairs = mat(t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct())
      val d0 = pairs.groupBy(col("user_id")).agg(min(col("day")).as("d0"))
      val masks = pairs.join(d0, Seq("user_id"))
        .withColumn("off", datediff(col("day"), col("d0")))
        .where(col("off") <= 6)
        .select(col("user_id"), expr("shiftleft(CAST(1 AS BIGINT), off)").as("b"))
        .distinct()
        .groupBy(col("user_id")).agg(sum(col("b")).as("mask"))
      masks.groupBy(col("mask"))
        .agg(count(lit(1)).as("n_users"))
        .withColumn("n_active_days", expr("CAST(bit_count(mask) AS INT)"))
        .select(col("mask"), col("n_active_days"), col("n_users"))
        .orderBy(col("mask"))
    }, oracleSql =
      """WITH pairs AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                        FROM events),
         d0 AS (SELECT user_id, min(day) AS d0 FROM pairs GROUP BY 1),
         b AS (SELECT DISTINCT p.user_id,
             CAST(1 AS BIGINT) << date_diff('day', d0.d0, p.day) AS b
           FROM pairs p JOIN d0 USING (user_id)
           WHERE date_diff('day', d0.d0, p.day) <= 6),
         masks AS (SELECT user_id, CAST(sum(b) AS BIGINT) AS mask
                   FROM b GROUP BY 1)
         SELECT mask, CAST(bit_count(mask) AS INTEGER) AS n_active_days,
           count(*) AS n_users
         FROM masks GROUP BY 1 ORDER BY mask"""),

    // HLL++ error-bound gate for q55's scale path
    // (AggOps.approxDistinctCounts): the approximate count rides next to
    // the exact one and the oracle-compared output is the exact count plus
    // the bound VERDICT (|approx − exact| ≤ 3·rsd·exact, as 0/1). The
    // verdict is deterministic cross-run — HLL++ register merges are
    // max(), so the estimate is partition-order-free — and the estimate
    // itself stays out of the compare (DuckDB's approx sketch differs).
    // The exact side is the real aggregation cost; the sketch side is the
    // one-pass O(1/rsd²)-bytes-per-group scale path being certified.
    Query("q197_hll_bound", (s, d) => {
      val rsd = 0.05
      val ev = t(s, d, "events")
      val approx = operators.AggOps.approxDistinctCounts(
        ev, Seq(col("event_type")), col("user_id"), rsd)
      val exact = ev.groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("n_exact"))
      exact.join(broadcast(approx), Seq("event_type"))
        .withColumn("within_3rsd",
          (abs(col("approx_distinct") - col("n_exact")).cast("double") <=
            lit(3 * rsd) * col("n_exact")).cast("bigint"))
        .select(col("event_type"), col("n_exact"), col("n_rows"),
          col("within_3rsd"))
        .orderBy(col("event_type"))
    }, oracleSql =
      // The oracle asserts the HLL bound by CONSTRUCTION: the exact side is
      // recomputed and hash-compared, and within_3rsd must come back 1 from
      // the engine — a red cell here means Spark's sketch broke its ±3·rsd
      // contract (the q42-family style of gating an approximate result).
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
           count(*) AS n_rows, CAST(1 AS BIGINT) AS within_3rsd
         FROM events GROUP BY 1 ORDER BY event_type""")
  )
}
