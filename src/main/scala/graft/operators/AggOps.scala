package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TimeOps

/** Generic aggregate operators (reference §2.5 A1–A16).
  *
  * All are plain `groupBy().agg()` programs: Spark's hash aggregate gives
  * partial (map-side) + final aggregation automatically, so every one of
  * these shuffles only the (small) per-group partial states, never raw rows.
  * At 100 TB the cardinality of every grouping key here (symbol/date/hour/
  * weekday/…) is tiny relative to input, so the exchanges stay negligible.
  */
object AggOps {

  /** Exact lossless integerization of a value on a 1/100 grid:
    * floor(v·100+0.5) = HALF_UP on the identical double in every IEEE
    * engine, and the long sums that follow are partition-order-free. A
    * rounded double mean here is the q108/q149 hazard: Spark sums group
    * doubles in partition order, so a mean on a half-ulp boundary flips
    * its 6th decimal between engines and between partition layouts. */
  private def centi(value: Column): Column = floor(value * 100 + lit(0.5))

  /** Presents the exact milli-of-centi integer mean `sv·1000 div n` as a
    * 5-decimal double (one IEEE division of an exact long — identical in
    * every engine). `sv`/`n` are column NAMES produced by a prior agg. */
  private def exactMean(sv: String, n: String): Column =
    expr(s"($sv * 1000 div $n) / 100000.0d")

  /** Exact 2-dp sum of centi-grid values: the long centi sum presented
    * /100 (one exact IEEE division — sums < 2^53 round-trip losslessly).
    * `round(sum(double), 2)` only matches across engines while accumulated
    * order noise stays under the 0.005 half-width; this never accumulates
    * a double at all. */
  private def centiSum(value: Column): Column =
    sum(centi(value)) / lit(100.0)

  /** A1 (`src/analytics/metrics.py:15-24`): per-group market metrics.
    * Postgres STDDEV = sample stddev = Spark `stddev_samp`.
    * `exactCenti=true` (price AND volume on a 1/100 grid) computes the
    * mean and stddev from exact integer sums — the n·Σx²−(Σx)² identity in
    * DECIMAL(38,0) with one terminal sqrt — and presents total_volume from
    * its exact centi sum too: `round(sum(double), 2)` only matches across
    * engines while accumulated order noise stays under the 0.005
    * half-width, a margin that shrinks with row count — so no
    * order-dependent double accumulation reaches a cross-engine compare. */
  def marketMetrics(df: DataFrame, key: String, price: Column, volume: Column,
                    exactCenti: Boolean = false): DataFrame =
    if (!exactCenti)
      df.groupBy(col(key))
        .agg(round(avg(price), 6).as("avg_price"),
             round(stddev_samp(price), 6).as("stddev_price"),
             round(sum(volume), 2).as("total_volume"),
             count(lit(1)).as("n_rows"))
        .orderBy(col(key))
    else
      df.groupBy(col(key))
        .agg(sum(centi(price)).as("__sv"),
             sum(centi(price).cast("decimal(38,0)") * centi(price)).as("__sv2"),
             sum(centi(volume)).as("__svol"),
             count(lit(1)).as("n_rows"))
        .withColumn("total_volume", expr("__svol / 100.0d"))
        .withColumn("avg_price", exactMean("__sv", "n_rows"))
        .withColumn("stddev_price", when(col("n_rows") > 1,
          round(sqrt(
            expr("CAST(CAST(n_rows AS DECIMAL(38,0)) * __sv2" +
              " - CAST(__sv AS DECIMAL(38,0)) * __sv AS DOUBLE)") /
            expr("CAST(n_rows * (n_rows - 1) AS DOUBLE)")) / 100, 6)))
        .select(col(key), col("avg_price"), col("stddev_price"),
          col("total_volume"), col("n_rows"))
        .orderBy(col(key))

  /** A2 (`binance_analysis.py:655-667`): daily summary. On the exact path
    * the 2-dp sum is the centi sum presented /100 — `round(sum(double),2)`
    * only survives cross-engine while accumulated order noise stays under
    * the 0.005 half-width, a margin that shrinks with row count. */
  def dailySummary(df: DataFrame, ts: Column, value: Column,
                   exactCenti: Boolean = false): DataFrame = {
    val base = df.groupBy(to_date(ts).as("date"))
    val agged =
      if (!exactCenti)
        base.agg(round(avg(value), 6).as("avg_value"),
             round(sum(value), 2).as("sum_value"),
             round(max(value), 6).as("max_value"),
             count(lit(1)).as("n"))
      else
        base.agg(sum(centi(value)).as("__sv"),
             round(max(value), 6).as("max_value"),
             count(lit(1)).as("n"))
          .withColumn("sum_value", expr("__sv / 100.0d"))
          .withColumn("avg_value", exactMean("__sv", "n"))
          .select(col("date"), col("avg_value"), col("sum_value"),
            col("max_value"), col("n"))
    agged.orderBy(col("date"))
  }

  /** A3 (`binance_analysis.py:669-672`): monthly rollup. */
  def monthlyRollup(df: DataFrame, ts: Column, value: Column,
                    exactCenti: Boolean = false): DataFrame =
    df.groupBy(TimeOps.monthStr(ts).as("month"))
      .agg((if (exactCenti) centiSum(value) else round(sum(value), 2))
          .as("sum_value"),
        count(lit(1)).as("n"))
      .orderBy(col("month"))

  /** A4 (`binance_analysis.py:676-684`): hour-of-day profile. */
  def hourProfile(df: DataFrame, ts: Column, value: Column,
                  exactCenti: Boolean = false): DataFrame = {
    val base = df.groupBy(hour(ts).as("hour"))
    val agged =
      if (!exactCenti)
        base.agg(round(avg(value), 6).as("avg_value"), count(lit(1)).as("n"))
      else
        base.agg(sum(centi(value)).as("__sv"), count(lit(1)).as("n"))
          .withColumn("avg_value", exactMean("__sv", "n"))
          .select(col("hour"), col("avg_value"), col("n"))
    agged.orderBy(col("hour"))
  }

  /** A5 (`binance_analysis.py:686-687`): day-of-week profile in CALENDAR
    * order (Monday first) via the int sort key — the ordered-categorical
    * trap called out in SURVEY §7.5. */
  def dowProfile(df: DataFrame, ts: Column, value: Column,
                 exactCenti: Boolean = false): DataFrame = {
    val base = df.groupBy(TimeOps.weekdayNum(ts).as("weekday"),
               TimeOps.weekdayName(ts).as("weekday_name"))
    val agged =
      if (!exactCenti)
        base.agg(round(avg(value), 6).as("avg_value"), count(lit(1)).as("n"))
      else
        base.agg(sum(centi(value)).as("__sv"), count(lit(1)).as("n"))
          .withColumn("avg_value", exactMean("__sv", "n"))
          .select(col("weekday"), col("weekday_name"), col("avg_value"),
            col("n"))
    agged.orderBy(col("weekday"))
  }

  /** A6 (`binance_analysis.py:689-690`): weekday × hour heat matrix as a
    * pivot. `pivot` with explicit values list ⇒ single aggregation pass, no
    * second job to discover the pivot domain. The exact path aggregates the
    * (weekday, hour) cells first — integer-exact means — then pivots the
    * 7×24 frame with `first` (one row per cell, deterministic). */
  def weekdayHourHeatmap(df: DataFrame, ts: Column, value: Column,
                         exactCenti: Boolean = false): DataFrame = {
    val p =
      if (!exactCenti)
        df.groupBy(TimeOps.weekdayNum(ts).as("weekday"))
          .pivot(hour(ts).cast("int"), 0 to 23)
          .agg(round(avg(value), 6))
      else
        df.groupBy(TimeOps.weekdayNum(ts).as("weekday"),
            hour(ts).cast("int").as("__h"))
          .agg(sum(centi(value)).as("__sv"), count(lit(1)).as("__n"))
          .withColumn("__m", exactMean("__sv", "__n"))
          .groupBy(col("weekday"))
          .pivot(col("__h"), 0 to 23)
          .agg(first(col("__m")))
    p.select(col("weekday") +: (0 to 23).map(h => col(s"$h").as(s"h$h")): _*)
      .orderBy(col("weekday"))
  }

  /** A9/A10 (`binance_analysis.py:638-651`): one-row overall summary with
    * EXACT percentiles (linear interpolation — matches pandas/DuckDB;
    * `percentile_approx` would drift, SURVEY §7.5). Percentiles/median are
    * order statistics over identical per-row doubles — order-independent —
    * so only the mean and the 2-dp sum need the exact-integer path. */
  def overallSummary(df: DataFrame, value: Column,
                     exactCenti: Boolean = false): DataFrame =
    if (!exactCenti)
      df.agg(round(avg(value), 6).as("avg_value"),
           round(median(value), 6).as("median_value"),
           round(sum(value), 2).as("sum_value"),
           count(lit(1)).as("n"),
           round(percentile(value, lit(0.95)), 6).as("p95"),
           round(percentile(value, lit(0.99)), 6).as("p99"))
    else
      df.agg(sum(centi(value)).as("__sv"),
           round(median(value), 6).as("median_value"),
           count(lit(1)).as("n"),
           round(percentile(value, lit(0.95)), 6).as("p95"),
           round(percentile(value, lit(0.99)), 6).as("p99"))
        .withColumn("sum_value", expr("__sv / 100.0d"))
        .withColumn("avg_value", exactMean("__sv", "n"))
        .select(col("avg_value"), col("median_value"), col("sum_value"),
          col("n"), col("p95"), col("p99"))

  /** Approximate distinct counts per group — the scale path for A11/q55's
    * exact `count_distinct`. Spark's `approx_count_distinct` is
    * HyperLogLog++: one pass, fixed-size sketch per group (no exact-distinct
    * shuffle of every key), map-side combinable. `rsd` is the target
    * relative standard deviation — the estimate is within ±3·rsd of truth
    * with ~99.7% probability (default 5% ⇒ ±15% worst-practical); sketches
    * cost O(1/rsd²) bytes. Approximate by construction, so it is spec-tested
    * against exact counts rather than oracle-gated. */
  def approxDistinctCounts(df: DataFrame, groupCols: Seq[Column],
                           distinctCol: Column, rsd: Double = 0.05): DataFrame =
    df.groupBy(groupCols: _*)
      .agg(approx_count_distinct(distinctCol, rsd).as("approx_distinct"),
           count(lit(1)).as("n_rows"))

  /** A12 (`binance_analysis.py:606-621`): coverage / gap counting. */
  def coverage(df: DataFrame, ts: Column): DataFrame =
    df.agg(min(ts).as("min_ts"), max(ts).as("max_ts"), count(lit(1)).as("n_rows"),
           count_distinct(TimeOps.minuteFloor(ts)).as("n_minutes"))
      .withColumn("expected_minutes",
        (floor((unix_timestamp(col("max_ts")) - unix_timestamp(col("min_ts"))) / 60) + 1).cast("long"))
      .withColumn("missing_minutes", col("expected_minutes") - col("n_minutes"))

  /** A13 (`src/dashboard/app.py:118`): table stats. */
  def tableStats(df: DataFrame, ts: Column, value: Column,
                 exactCenti: Boolean = false): DataFrame =
    df.agg(count(lit(1)).as("n"), min(ts).as("min_ts"), max(ts).as("max_ts"),
           (if (exactCenti) centiSum(value) else round(sum(value), 2))
             .as("sum_value"))

  /** A14 (`binance_analysis.py:499-502`): best-bid/best-ask style
    * conditional aggregation — max over one side, min over the other,
    * spread and mid derived. One pass, no join. */
  def bestBidAsk(df: DataFrame, side: Column, bidVal: String, askVal: String,
                 price: Column): DataFrame =
    df.agg(max(when(side === bidVal, price)).as("best_bid"),
           min(when(side === askVal, price)).as("best_ask"))
      .withColumn("spread", col("best_ask") - col("best_bid"))
      .withColumn("mid", (col("best_ask") + col("best_bid")) / 2)

  /** A15 (`binance_analysis.py:505-512`): top-N book depth per side — rank
    * window limited to N, then per-side sums. The rank goes through
    * [[WindowOps.thresholdedTopKPerGroup]]: a bounded-heap pass finds each
    * side's N-th price, and only the rows at or above it reach the window.
    * `exactGrids=true` (integral qty, centi price) derives both sums from
    * exact long grids — no order-dependent double accumulation. */
  def depthTopN(df: DataFrame, side: String, price: Column, qty: Column, n: Int,
                tiebreak: Seq[Column], exactGrids: Boolean = false): DataFrame = {
    val ranked = WindowOps.thresholdedTopKPerGroup(df, Seq(side),
      price, tiebreak, n, out = "__rn")
    val agged =
      if (!exactGrids)
        ranked.groupBy(col(side))
          .agg(round(sum(qty), 2).as("depth_qty"),
               round(sum(qty * price), 2).as("depth_notional"),
               count(lit(1)).as("n_levels"))
      else
        ranked.groupBy(col(side))
          .agg(sum(floor(qty + lit(0.5))).cast("double").as("depth_qty"),
               (sum(floor(qty + lit(0.5)) * centi(price)) / lit(100.0))
                 .as("depth_notional"),
               count(lit(1)).as("n_levels"))
    agged.orderBy(col(side))
  }

  /** Cohort retention matrix: users bucketed by first-active day, distinct
    * active users per (cohort_day, day_offset) cell.
    *
    * Shape: the raw stream collapses FIRST to distinct (user, day) — one
    * row per user-day, typically orders of magnitude smaller than the
    * event stream — and every later step works on that frame: a
    * groupBy(user)→min for the cohort, a hash-join back on user, one cell
    * aggregation. Nothing rescans raw events, no window function, and the
    * distinct-user count per cell is exact (keyed by the small cohort/
    * offset pair after the user-keyed dedup). */
  def cohortRetention(events: DataFrame, userCol: String,
                      tsCol: String): DataFrame = {
    val days = events
      .select(col(userCol).as("user_id"), to_date(col(tsCol)).as("day"))
      .distinct()
    val cohorts = days.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    days.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count_distinct(col("user_id")).as("active_users"))
  }
}
