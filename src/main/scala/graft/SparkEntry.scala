package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{RobustZ, Sketches, TextOps, TfIdf, TimeOps}
import graft.operators._
import graft.dedup.Dedup
import graft.similarity.Ann
import graft.multimodal.Multimodal
import graft.plans.Expressions

/** Driver contract — one entry per implemented operator from SURVEY.md §2,
  * with the DuckDB oracle SQL alongside. Column names/aliases match the SQL
  * exactly; every query ends in a deterministic ORDER BY (unique sort keys)
  * so row order is reproducible across engines.
  *
  * Floating-point policy: per-row arithmetic (+,-,*,/) is IEEE-identical in
  * Spark and DuckDB and stays unrounded; anything order-dependent (sums,
  * stddev, corr) or transcendental (log) is rounded — 6 dp for ~unit-scale
  * values, 2 dp for large sums — so accumulation-order ulp noise can't flip
  * the hash compare.
  *
  * Integer-sum policy: DuckDB's sum(<integer col>) returns HUGEINT, which
  * pandas renders as float ('2098.0') while Spark writes int64 ('2098') —
  * the driver hash then differs on value-identical rows. Any oracle OUTPUT
  * column that sums/multiplies integers must be CAST(... AS BIGINT).
  * (count(*) is already BIGINT; sums wrapped in round(...) are DOUBLE.)
  */
object SparkEntry {

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Materialize a frame that the downstream plan references more than once.
    * Strategy is the session-wide `graft.materialize` conf (see
    * [[Materialize]]): localCheckpoint by default, persist(DISK)/reliable
    * checkpoint for fault-tolerant cluster runs, or `false` to keep plans
    * fully lazy and inspectable: `Explain` without `--run` sets it so the
    * shared stage shows as its real operator tree instead of an
    * ExistingRDD scan (and no job runs at plan time). */
  private def mat(df: DataFrame): DataFrame = Materialize(df)

  /** Lazy compute-once sharing ([[Materialize.lazyCache]]) for a SMALL
    * multiply-referenced frame inside one query: no eager checkpoint job,
    * lineage retained (fault-tolerant), branches read the one cached copy.
    * Use where the shared frame is a few scalar columns and the eager job
    * [[mat]] schedules is pure overhead. */
  private def matLazy(df: DataFrame): DataFrame = Materialize.lazyCache(df)

  /** The numeric suffix of `source` ("srcN" → N) — UNBOUNDED suffix, like
    * the oracle-side `CAST(substring(source, 4) AS BIGINT)`; a fixed-width
    * substring would silently diverge from the oracle past 10 digits.
    * Feeds q75's budget tiers and the q83/q84 trust tiers. */
  private def sourceNum: Column =
    col("source").substr(lit(4), length(col("source"))).cast("long")

  /** The materialized MinHash signature frame (one compact row per doc) the
    * q70/q84 component chain builds on — EXPOSED separately from the
    * component resolution so a composed pipeline reuses it the way q69
    * reuses shingle postings: the md5 signature work dominates the chain
    * and must run once per pipeline, not once per consumer. Parameters are
    * mirrored by the oracle-side `minhashCompCtes`; tune them in BOTH
    * places or the engine and oracle silently desynchronize. */
  private def minhashSignatureFrame(docs: DataFrame): DataFrame =
    mat(Dedup.minhashSignatures(docs, "doc_id", "text", n = 3, numHashes = 8))

  /** Banding → star edges → connected components from a PRE-materialized
    * signature frame (see [[minhashSignatureFrame]]). The star-edge core
    * references the banded postings twice; the ×4 banding explode
    * re-derives lazily from the materialized signatures, so no signature
    * recomputation reaches the final plan (EntrySpec asserts this on q84). */
  private def minhashComponentsFromSignatures(docs: DataFrame,
                                              sig: DataFrame): DataFrame = {
    val banded = Dedup.minhashBandPostingsFromSignatures(sig,
      numHashes = 8, bands = 4)
    val edges = Dedup.starEdgesFromBuckets(banded, Seq("band_idx", "band_val"))
    Graph.connectedComponents(docs.select(col("doc_id")),
      "doc_id", edges, "id_a", "id_b")
  }

  /** MinHash banding → star edges → connected components over `docs` —
    * the shared group-resolution chain behind q70 (components + sizes) and
    * q84 (components + keeper). */
  private def minhashComponents(docs: DataFrame): DataFrame =
    minhashComponentsFromSignatures(docs, minhashSignatureFrame(docs))

  /** Flagship: multi-join regional revenue (TPC-H Q5 shape) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("q22_regional_revenue")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1 + P3/P19 (metrics.py:15-24): per-group metrics. Integer-exact:
    // quantity is integral and price/discount/tax sit on the centi grid,
    // so every sum is an exact long (the disc/charge products live on the
    // 1e-4/1e-6 grids — ≤1.1e11 per row, ≤2e16 per group at sf0.1, long
    // headroom to ~100× that; DECIMAL(38,0) is the petabyte upgrade) and
    // every mean is a truncated integer division. The old
    // round(sum/avg(double)) forms are the q108/q149 partition-order
    // hazard; k/10^s presentation divisions are one IEEE op on an exact
    // long — identical in every engine.
    "q01_pricing_summary" -> ((s, d) => {
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
    }),

    // A1 exact shape (metrics.py): avg price / stddev / total volume.
    "q02_market_metrics" -> ((s, d) =>
      AggOps.marketMetrics(t(s, d, "events"), "event_type", col("value"), col("value"),
        exactCenti = true)),

    // A2 + P12: daily summary.
    "q03_daily_summary" -> ((s, d) =>
      AggOps.dailySummary(t(s, d, "events"), col("ts"), col("value"),
        exactCenti = true)),

    // A3 + P13: monthly rollup.
    "q04_monthly_rollup" -> ((s, d) =>
      AggOps.monthlyRollup(t(s, d, "events"), col("ts"), col("value"),
        exactCenti = true)),

    // A4 + P10: hour-of-day profile.
    "q05_hour_profile" -> ((s, d) =>
      AggOps.hourProfile(t(s, d, "events"), col("ts"), col("value"),
        exactCenti = true)),

    // A5 + P11: day-of-week profile in calendar order.
    "q06_dow_profile" -> ((s, d) =>
      AggOps.dowProfile(t(s, d, "events"), col("ts"), col("value"),
        exactCenti = true)),

    // A6: weekday × hour heat matrix (pivot).
    "q07_heatmap_pivot" -> ((s, d) =>
      AggOps.weekdayHourHeatmap(t(s, d, "events"), col("ts"), col("value"),
        exactCenti = true)),

    // A7/A8: correlation scalars. Built from exact integer sums (grid
    // inputs: quantity integral, price/disc/tax centi) via the
    // n·Σxy−ΣxΣy identity in DECIMAL(38,0); only the terminal
    // divide-and-sqrt is float — the same IEEE ops on the same exact
    // integers in both engines — where corr() itself accumulates doubles
    // in partition order (the q108/q149 cross-engine class). corr is
    // scale-invariant, so the centi scales cancel.
    "q08_corr" -> ((s, d) => {
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
    }),

    // A9/A10: overall summary with exact percentiles/median.
    "q09_overall_summary" -> ((s, d) =>
      AggOps.overallSummary(t(s, d, "events"), col("value"), exactCenti = true)),

    // A11/S10: distinct + sort.
    "q10_distinct_types" -> ((s, d) =>
      t(s, d, "events").select(col("event_type")).distinct().orderBy(col("event_type"))),

    // A12: coverage / gap counting.
    "q11_coverage" -> ((s, d) =>
      AggOps.coverage(t(s, d, "events"), col("ts"))),

    // A13/A16: table stats.
    "q12_table_stats" -> ((s, d) =>
      AggOps.tableStats(t(s, d, "orders"), col("o_orderdate"),
        col("o_totalprice"), exactCenti = true)),

    // A14: conditional aggregation (best bid/ask shape).
    "q13_best_bid_ask" -> ((s, d) =>
      AggOps.bestBidAsk(t(s, d, "events"), col("event_type"), "click", "view", col("value"))),

    // A15 + W4: top-N depth per side.
    "q14_depth_topn" -> ((s, d) =>
      AggOps.depthTopN(t(s, d, "lineitem"), "l_returnflag", col("l_extendedprice"),
        col("l_quantity"), 100,
        Seq(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
        exactGrids = true)),

    // W1: per-group lag difference.
    "q15_lag_diff" -> ((s, d) =>
      WindowOps.lagDiff(t(s, d, "events"),
          Seq(col("user_id")), Seq(col("ts"), col("event_id")), col("value"), "diff")
        .select(col("user_id"), col("event_id"), col("value"), col("diff"))
        .orderBy(col("event_id"))),

    // W2: rolling stddev with min_periods gate.
    "q16_rolling_std" -> ((s, d) =>
      WindowOps.rollingStd(t(s, d, "events"),
          Seq(col("event_type")), Seq(col("ts"), col("event_id")), col("value"),
          window = 60, minPeriods = 30, out = "vol60")
        .select(col("event_type"), col("event_id"), col("vol60"))
        .orderBy(col("event_id"))),

    // W3/P24: forward leads + forward log-returns.
    "q17_forward_returns" -> ((s, d) =>
      WindowOps.forwardReturns(t(s, d, "events"),
          Seq(col("event_type")), Seq(col("ts"), col("event_id")), col("value"), Seq(5, 15))
        .select(col("event_id"), col("value"),
                col("lead_5"), col("fwd_ret_5"), col("lead_15"), col("fwd_ret_15"))
        .orderBy(col("event_id"))),

    // W4: per-partition level numbering, top-100 levels. Threshold-prefilter
    // shape: the level≤100 cap folds into a bounded-heap 100th-price pass +
    // broadcast threshold filter, so the rank window sorts ~300 rows, never
    // the table (levelNumbers stays the uncapped W4 surface).
    "q18_book_levels" -> ((s, d) =>
      WindowOps.thresholdedTopKPerGroup(t(s, d, "lineitem"),
          Seq("l_returnflag"), col("l_extendedprice"),
          Seq(col("l_orderkey"), col("l_linenumber")), 100, out = "level")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
                col("l_extendedprice"), col("level"))
        .orderBy(col("l_returnflag"), col("level"))),

    // W5/O2/O3 + P7: global top-k by notional (TakeOrderedAndProject).
    "q19_topk_notional" -> ((s, d) =>
      WindowOps.topK(
          t(s, d, "lineitem").withColumn("notional", col("l_extendedprice") * col("l_quantity")),
          Seq(col("notional").desc, col("l_orderkey"), col("l_linenumber")), 50)
        .select(col("l_orderkey"), col("l_linenumber"), col("notional"))),

    // O4: deterministic cross-engine sample.
    "q20_deterministic_sample" -> ((s, d) =>
      WindowOps.deterministicSample(t(s, d, "lineitem"),
          col("l_orderkey") * 10 + col("l_linenumber"), 1000)
        .select(col("l_orderkey"), col("l_linenumber"))),

    // J1: bucket-alignment equi-join (facts → enriched).
    "q21_join_enrich" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val o = t(s, d, "orders").select(col("o_orderkey").as("l_orderkey"),
        col("o_orderdate"), col("o_totalprice"))
      JoinOps.bucketAlignJoin(li, o, Seq("l_orderkey"), "inner")
        .select(col("l_orderkey"), col("l_linenumber"), col("o_orderdate"),
                col("o_totalprice"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    }),

    // Multi-join + agg (flagship): revenue per region/nation.
    "q22_regional_revenue" -> ((s, d) => {
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
    }),

    // J2: cross-group time alignment (pivot + fill 0).
    "q23_pivot_align" -> ((s, d) =>
      JoinOps.pivotAlign(t(s, d, "events"), TimeOps.minuteFloor(col("ts")),
        "event_type", eventTypes, col("value"), exactCenti = true)),

    // J3/K4-K7: idempotent last-write-wins upsert.
    "q24_upsert" -> ((s, d) => {
      val ev = t(s, d, "events").select(col("event_id"), col("value"))
      val updates = ev.where(col("event_id") % 10 === 0)
        .withColumn("value", col("value") + 1000)
      SetOps.upsert(ev, updates, Seq("event_id")).orderBy(col("event_id"))
    }),

    // Semi-join (EXISTS).
    "q25_semi_join" -> ((s, d) => {
      val big = t(s, d, "lineitem").where(col("l_quantity") >= 49)
        .select(col("l_orderkey").as("o_orderkey"))
      JoinOps.semiJoin(t(s, d, "orders"), big, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice")).orderBy(col("o_orderkey"))
    }),

    // Anti-join (NOT EXISTS).
    "q26_anti_join" -> ((s, d) => {
      val o = t(s, d, "orders").select(col("o_custkey").as("c_custkey"))
      JoinOps.antiJoin(t(s, d, "customer"), o, Seq("c_custkey"))
        .select(col("c_custkey"), col("c_name")).orderBy(col("c_custkey"))
    }),

    // As-of join (union + last-value window — one shuffle, no range blowup).
    "q27_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val left = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val right = ev.where(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("view_value"))
      JoinOps.asofJoin(left, right, "user_id", "ts", Seq("view_value"))
        .select(col("user_id"), col("event_id"), col("value"), col("asof_view_value"))
        .orderBy(col("event_id"))
    }),

    // U1/U2: union of slices.
    "q28_union_slices" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      SetOps.unionAligned(Seq(li.where(col("l_quantity") <= 2), li.where(col("l_quantity") >= 49)))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),

    // Intersect (set semantics).
    "q29_intersect" -> ((s, d) =>
      t(s, d, "orders").select(col("o_custkey").as("custkey"))
        .intersect(t(s, d, "customer").where(col("c_acctbal") > 0)
          .select(col("c_custkey").as("custkey")))
        .orderBy(col("custkey"))),

    // Except (set semantics).
    "q30_except" -> ((s, d) =>
      t(s, d, "customer").select(col("c_custkey").as("custkey"))
        .except(t(s, d, "orders").select(col("o_custkey").as("custkey")))
        .orderBy(col("custkey"))),

    // P22: column-global robust z-score (median/MAD, degenerate branch).
    "q31_robust_z" -> ((s, d) =>
      RobustZ.withRobustZ(t(s, d, "events"), "value", "z")
        .select(col("event_id"), col("value"), round(col("z"), 6).as("z_value"))
        .orderBy(col("event_id"))),

    // P22/P23 + O2/O3: anomaly score top-200. log(1+x) spelled exactly as
    // the oracle's ln(1 + value) — log1p is NOT bit-identical to ln(1+x),
    // and the 6-dp rounding of the score (which drives the top-200 cut)
    // can flip at a rounding boundary if the engines evaluate different
    // IEEE expressions.
    "q32_anomaly_topk" -> ((s, d) => {
      val ev = t(s, d, "events").withColumn("log_value", log(lit(1) + col("value")))
      val scored = RobustZ.withAnomalyScore(ev, Seq("value", "log_value"), "anomaly")
        .withColumn("anomaly_score", round(col("anomaly"), 6))
      WindowOps.topK(scored, Seq(col("anomaly_score").desc, col("event_id")), 200)
        .select(col("event_id"), col("value"), col("anomaly_score"))
    }),

    // Beyond-reference: ROLLUP grouping sets.
    "q33_rollup_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // Streaming-shape batch parity: 5-minute tumbling window aggregation.
    "q34_tumbling_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(floor(col("value") * 100 + lit(0.5))) / lit(100.0)).as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("win_start"), col("event_type"))),

    // Streaming-shape batch parity: session windows (30-min gap).
    "q35_session_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n"),
          (sum(floor(col("value") * 100 + lit(0.5))) / lit(100.0)).as("sum_value"))
        .select(col("user_id"), col("sw.start").as("session_start"), col("n"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start"))),

    // Text analysis: char/token/punct counting (whitespace + BPE-ish regex).
    "q36_text_stats" -> ((s, d) => {
      val doc = t(s, d, "documents")
      doc.select(col("doc_id"),
          length(col("text")).as("n_chars"),
          TextOps.tokenCount(col("text")).as("n_tokens"),
          TextOps.bpeishTokenCount(col("text")).as("n_bpeish"),
          TextOps.punctCount(col("text")).as("n_punct"),
          TextOps.nonWsCharCount(col("text")).as("n_nonws"))
        .withColumn("avg_token_len",
          round(col("n_nonws").cast("double") / col("n_tokens"), 6))
        .orderBy(col("doc_id"))
    }),

    // Text analysis: n-gram-heuristic language ID (stopword scoring).
    "q37_lang_id" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"), col("lang"),
          TextOps.langId(col("text")).as("pred_lang"),
          TextOps.langScore(col("text"), TextOps.LangMarkers.head._2).cast("long").as("score_en"))
        .orderBy(col("doc_id"))),

    // Text analysis: composite quality score (integer milli-scale — immune
    // to cross-engine float-rounding boundary disagreements).
    "q38_quality_score" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
          TextOps.qualityScoreMilli(col("text")).as("quality_milli"))
        .orderBy(col("doc_id"))),

    // Text analysis: portable content fingerprint (md5 of normalized text).
    "q39_fingerprint" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
          TextOps.contentFingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))),

    // Dedup: exact (keep lowest id per identical text).
    "q40_dedup_exact" -> ((s, d) =>
      Dedup.exactDedup(t(s, d, "documents"), Seq("text"), "doc_id")
        .select(col("doc_id"), col("n_chars")).orderBy(col("doc_id"))),

    // Dedup: fingerprint groups.
    "q41_dedup_fingerprint" -> ((s, d) =>
      Dedup.fingerprintDedup(t(s, d, "documents"), "text", "doc_id")
        .orderBy(col("fingerprint"))),

    // Dedup: n-gram (3-shingle) Jaccard pairs via inverted-index join.
    // maxDocFreq caps posting-list length — shingles present in >100 docs
    // are stop-shingles: quadratic join blowup at corpus scale for near-zero
    // discriminative signal. The oracle mirrors the cap.
    // Postings materialized once (localCheckpoint): the sizes derivation,
    // the document-frequency filter, and both join sides otherwise each
    // re-run the shingle explode (~3× the dominant cost).
    "q42_ngram_jaccard" -> ((s, d) => {
      val postings = mat(Dedup.shinglePostings(t(s, d, "documents"),
        "doc_id", "text", 3))
      Dedup.ngramJaccardFromPostings(postings,
          minJaccard = 0.05, maxDocFreq = Some(100L))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Dedup: MinHash + LSH candidate pairs (8 hashes, 4 bands).
    "q43_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLshCandidates(t(s, d, "documents"), "doc_id", "text",
          n = 3, numHashes = 8, bands = 4)
        .orderBy(col("id_a"), col("id_b"))),

    // Dedup: SimHash near-dup candidates (custom Catalyst expression;
    // oracled via a HUGEINT FNV-1a + bit-majority mirror in DuckDB).
    // Engine buckets by 3-of-6-block combination keys (maxHamming < blocks
    // pigeonhole — full recall at Hamming ≤ 3); the oracle mirrors the
    // simpler 4×16-bit banding, which by the same pigeonhole admits the
    // identical verified pair set {hamming ≤ 3}.
    "q44_simhash_dedup" -> ((s, d) =>
      Dedup.simhashCandidates(t(s, d, "documents"), "doc_id", "text",
          maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))),

    // Dedup: embedding-cosine near-dup pairs, blocked by label.
    "q45_embedding_dedup" -> ((s, d) =>
      Dedup.embeddingCosinePairs(t(s, d, "embeddings"), "vec_id", "embedding",
          "label", minSim = 0.1)
        .orderBy(col("id_a"), col("id_b"))),

    // Similarity search: exact brute-force cosine top-k.
    "q46_ann_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Ann.bruteForceTopK(emb.where(col("vec_id") < 20), emb, "vec_id", "embedding", 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Similarity search: LSH-bucketed ANN (oracled — the md5-parity
    // hyperplanes are deterministic and mirrored as SQL literals; recall
    // additionally measured against brute force in AnnSpec).
    "q47_ann_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Ann.lshTopK(emb.where(col("vec_id") < 20), emb, "vec_id", "embedding",
          k = 10, numPlanes = 6, dim = 64, multiProbe = 1)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Multimodal: binary payload + metadata plumbing (column variant).
    "q48_multimodal_meta" -> ((s, d) =>
      Multimodal.fakeMetaColumns(Multimodal.withPayload(t(s, d, "documents"), "text"))
        .select(col("doc_id"), col("byte_len"), col("width"), col("height"), col("channels"))
        .orderBy(col("doc_id"))),

    // Document fingerprinting via custom rolling-hash expression
    // (oracled via HUGEINT polynomial-mod arithmetic in DuckDB).
    "q49_rolling_hash" -> ((s, d) => {
      Expressions.ensureRegistered(s)
      t(s, d, "documents").select(col("doc_id"),
          Expressions.rollingHash(col("text")).as("rhash"))
        .orderBy(col("doc_id"))
    }),

    // A7/J2: correlation matrix over the pivot-aligned series, preserving
    // the reference's fillna(0)-before-corr quirk (binance_analysis.py:539-543).
    // The pivot cells are exact e-5-grid doubles (pivotAlign exactCenti), so
    // floor(x·1e5+0.5) recovers exact longs and each corr comes out of the
    // n·Σxy−ΣxΣy identity in DECIMAL(38,0) with one terminal
    // divide-and-sqrt — corr()'s own double accumulation is the q108/q149
    // partition-order class over a 43k-minute series.
    "q50_corr_matrix" -> ((s, d) => {
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
    }),

    // A12 extension: explicit gap listing — expected minute sequence minus
    // observed minutes (sequence + explode + set-difference).
    "q51_gap_listing" -> ((s, d) => {
      val ev = t(s, d, "events")
      val mm = ev.agg(date_trunc("minute", min(col("ts"))).as("mn"),
                      date_trunc("minute", max(col("ts"))).as("mx"))
      val all = mm.select(explode(sequence(col("mn"), col("mx"),
        expr("interval 1 minute"))).as("minute"))
      val present = ev.select(TimeOps.minuteFloor(col("ts")).as("minute")).distinct()
      all.except(present).orderBy(col("minute"))
    }),

    // Text analysis: corpus token histogram (explode + count, top 100).
    "q52_token_histogram" -> ((s, d) =>
      t(s, d, "documents")
        .select(explode(TextOps.tokens(lower(col("text")))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(100)),

    // Full rank-function family (rank/dense_rank on the tie-bearing value
    // ordering; ntile on a unique ordering — ntile under ties is
    // engine-arbitrary). percent_rank/cume_dist are integer-ratio exact.
    "q53_rank_family" -> ((s, d) => {
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
    }),

    // CUBE grouping sets over two dimensions.
    "q54_cube_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // Exact distinct counts per group. The HLL++ scale path is
    // AggOps.approxDistinctCounts (error-bound-tested in OperatorSpecs and
    // oracle-gated through its bound verdict in q197_hll_bound).
    "q55_distinct_counts" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count_distinct(col("o_custkey")).as("n_custs"),
             count(lit(1)).as("n_orders"),
             (sum(floor(col("o_totalprice") * 100 + lit(0.5))) / lit(100.0))
               .as("sum_price"))
        .orderBy(col("o_orderpriority"))),

    // Similarity search: IVF-cell ANN (oracled — the stride-sampled
    // centroids and nprobe cell ranking are deterministic and mirrored in
    // SQL; recall additionally measured against brute force in AnnSpec).
    "q56_ann_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Ann.ivfTopK(emb.where(col("vec_id") < 20), emb, "vec_id", "embedding",
          k = 10, nlist = 16, nprobe = 4)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Text analysis: per-document top-3 TF-IDF terms (keyword extraction /
    // domain-filter scoring for a pretraining corpus).
    "q57_tfidf" -> ((s, d) =>
      TfIdf.topTerms(t(s, d, "documents"), "doc_id", "text", 3)
        .orderBy(col("doc_id"), col("rnk"))),

    // PII detection + redaction. The synthetic corpus carries no PII, so
    // the query plants deterministic emails (doc_id % 3 of them) and one
    // phone per document, then counts and redacts — exercising both
    // regexes on genuine positives with varied cardinality.
    "q58_pii_redact" -> ((s, d) => {
      val aug = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          expr("repeat(concat(' user', doc_id, '@example.com'), CAST(doc_id % 3 AS INT))"),
          lit(" tel +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("aug"))
      aug.select(col("doc_id"),
          TextOps.emailCount(col("aug")).as("n_emails"),
          TextOps.phoneCount(col("aug")).as("n_phones"),
          md5(TextOps.redactPii(col("aug")).cast("binary")).as("redacted_md5"),
          length(TextOps.redactPii(col("aug"))).as("redacted_len"))
        .orderBy(col("doc_id"))
    }),

    // Embedding-space corpus clustering: nearest-centroid histogram over
    // the same deterministic stride centroids as q56 (the IVF index-build
    // step exposed as its own operator).
    "q59_cluster_histogram" -> ((s, d) =>
      Ann.clusterAssign(t(s, d, "embeddings"), "vec_id", "embedding", nlist = 16)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"),
             min(col("vec_id")).as("min_id"), max(col("vec_id")).as("max_id"))
        .orderBy(col("cell")))
        ,

    // Multimodal: REAL container-header decode (PNG/GIF/WAV magic + field
    // extraction as pure byte arithmetic). The query builds deterministic
    // well-formed headers per doc, parses them back through MediaHeaders;
    // the oracle derives the expected fields independently from the same
    // doc_id formulas — a wrong parse cannot cancel out.
    "q60_media_headers" -> ((s, d) => {
      import graft.multimodal.MediaHeaders
      def hx(c: Column, n: Int) = lpad(hex(c), n, "0")
      def le2(c: Column) =
        concat(hx(pmod(c, lit(256)), 2), hx(floor(c / 256).cast("long"), 2))
      def le4(c: Column) = concat(le2(pmod(c, lit(65536))),
        le2(floor(c / 65536).cast("long")))
      val w = lit(16) + pmod(col("doc_id"), lit(1024))
      val h = lit(16) + pmod(col("doc_id") * 3, lit(1024))
      val ch = lit(1) + pmod(col("doc_id"), lit(2))
      val rate = when(pmod(col("doc_id"), lit(2)) === 0, 44100L).otherwise(8000L)
      val pngHex = concat(lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
        hx(w, 8), hx(h, 8))
      val gifHex = concat(lit("474946383961"), le2(w), le2(h))
      val wavHex = concat(
        lit("52494646" + "24080000" + "57415645" + "666D7420" + "10000000" + "0100"),
        le2(ch), le4(rate))
      val payload = unhex(when(pmod(col("doc_id"), lit(3)) === 0, pngHex)
        .when(pmod(col("doc_id"), lit(3)) === 1, gifHex).otherwise(wavHex))
      t(s, d, "documents").select(col("doc_id"), payload.as("payload"))
        .select(col("doc_id"),
          MediaHeaders.kind(col("payload")).as("kind"),
          MediaHeaders.width(col("payload")).as("width"),
          MediaHeaders.height(col("payload")).as("height"),
          MediaHeaders.channels(col("payload")).as("channels"),
          MediaHeaders.sampleRate(col("payload")).as("sample_rate"))
        .orderBy(col("doc_id"))
    }),

    // Corpus mixing: exact per-language quotas with a deterministic
    // md5-keyed draw (the rebalancing step before training-data packing).
    "q61_stratified_sample" -> ((s, d) =>
      WindowOps.stratifiedSample(t(s, d, "documents"), Seq(col("lang")),
          col("doc_id"), 50, out = "rnk")
        .select(col("doc_id"), col("lang"), col("rnk"))
        .orderBy(col("lang"), col("rnk")))
        ,

    // Sequence packing: assign docs (in deterministic id order, per
    // language) to fixed token-budget bins via running-total division —
    // the greedy packing step that turns a corpus into training sequences.
    // One window cumsum per shuffle key; bin stats aggregate after.
    "q62_sequence_packing" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, d, "documents").select(col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      val binned = toks.withColumn("bin",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / lit(2048)))
      binned.groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"),
             min(col("doc_id")).as("first_doc"))
        .orderBy(col("lang"), col("bin"))
    }),

    // IVF ANN with Lloyd-refined centroids (q56's index build + two
    // distributed k-means passes). Deterministic across engines: stride
    // seeds, cid-DESC tiebreaks, and per-dimension means rounded to 6 dp
    // before re-assignment (see Ann.refineCentroids).
    "q63_ann_ivf_lloyd" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Ann.ivfTopK(emb.where(col("vec_id") < 20), emb, "vec_id", "embedding",
          k = 10, nlist = 16, nprobe = 4, lloydIters = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Interval enrichment join (batch parity of the stream-stream join):
    // each purchase paired with the same user's clicks in the preceding
    // 10 minutes (bounds inclusive — identical semantics to
    // StreamJoin.intervalJoin, which runs the watermarked streaming side).
    // The BATCH plan routes through RangeJoin.banded: a pure hash equi-join
    // on (user, time bucket) instead of an equi-key SMJ with the range as
    // post-filter, which degrades per-key quadratic on hot users at scale.
    // Streaming keeps the bare range predicate — it is exactly what Spark's
    // watermark state-cleanup analysis consumes.
    "q64_interval_join" -> ((s, d) => {
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
    }),

    // Dedup cluster resolution: simhash band buckets become duplicate
    // GROUPS via distributed connected components (large-star/small-star;
    // oracled against a recursive-CTE reachability mirror). Components are
    // those of the LSH candidate graph "shares ≥1 simhash band" — resolved
    // through linear star edges (min id per band bucket), never the
    // quadratic all-pairs bucket self-join (246k candidate pairs for 8.9k
    // useful edges at sf0.1 under the old shape). comp = smallest doc_id in
    // the cluster = the canonical keeper.
    // comp_size via map-side-combined groupBy + join, NOT a window over
    // comp: a window partition is unsplittable, so one giant duplicate
    // cluster (the common dedup case) would pin a single task; the sizes
    // frame is one row per component — broadcast-small here, AQE-skew-
    // splittable in the worst case.
    "q65_dedup_components" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // Hamming-VERIFIED edges (not raw band-bucket reachability): 16-bit
      // simhash bands chance-collide past ~16k docs, silently chaining
      // unrelated docs into mega-components; every edge here passes
      // bit_count(xor) <= 3, with identical hashes collapsed first so the
      // giant-cluster degeneracy never reaches the pairwise step. The
      // hashes frame is materialized once — it feeds both the
      // identical-hash collapse and the distinct-hash banding.
      val sim = mat(Dedup.simhashHashes(docs, "doc_id", "text"))
      val edges = Dedup.simhashVerifiedEdgesFromHashes(sim, maxHamming = 3)
      val labeled = Graph.connectedComponents(docs.select(col("doc_id")),
        "doc_id", edges, "id_a", "id_b")
      val sizes = labeled.groupBy(col("comp")).agg(count(lit(1)).as("comp_size"))
      labeled.join(sizes, Seq("comp"))
        .select(col("id").as("doc_id"), col("comp"), col("comp_size"))
        .orderBy(col("doc_id"))
    }),

    // Benchmark decontamination: training docs sharing ≥3 distinct 3-gram
    // shingles with the held-out set (doc_id % 50 == 0) are contaminated.
    "q66_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.contaminationOverlap(
          docs.where(col("doc_id") % 50 =!= 0),
          docs.where(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 3, minShared = 3L)
        .orderBy(col("doc_id"))
    }),

    // Gopher-style repetition metrics: total vs distinct tokens/2-grams per
    // doc plus an integer-milli duplicate-2-gram fraction.
    "q67_repetition" -> ((s, d) => {
      val st1 = TextOps.repetitionStats(col("text"), 1)
      val st2 = TextOps.repetitionStats(col("text"), 2)
      t(s, d, "documents").select(col("doc_id"),
          st1.getField("total").as("n_toks"),
          st1.getField("distinct").as("n_distinct_toks"),
          st2.getField("total").as("n_2grams"),
          st2.getField("distinct").as("n_distinct_2grams"))
        .withColumn("rep_2gram_milli",
          when(col("n_2grams") > 0,
            ((col("n_2grams") - col("n_distinct_2grams")) * 1000 / col("n_2grams"))
              .cast("long"))
          .otherwise(lit(0L)))
        .orderBy(col("doc_id"))
    }),

    // Banded range join: views in the 30 minutes before each purchase by
    // the same user — executed as a pure hash equi-join on (user, time
    // bucket), never a broadcast-nested-loop (see RangeJoin).
    "q68_banded_range_join" -> ((s, d) => {
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
    }),

    // End-to-end corpus curation: exact-dedup keepers, non-benchmark,
    // uncontaminated, quality ≥ 600‰, duplicate-2-gram fraction ≤ 100‰ —
    // the composed filter a pretraining pipeline ships.
    "q69_corpus_curation" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // Keeper IDS from one aggregate pass (doc_id is unique here), not
      // exactDedup's aggregate + full-width probe — one fewer corpus scan
      // in the composed plan (asserted in EntrySpec).
      val keepers = Dedup.exactKeeperIds(docs, Seq("text"), "doc_id")
      // Shingle the corpus ONCE: the exploded (id, shingle-hash) frame is
      // materialized (localCheckpoint) and BOTH contamination sides filter
      // it from memory — not one explosion per side. ContextCleaner frees
      // the checkpoint when the frame is unreachable.
      val postings = mat(Dedup.shinglePostings(docs, "doc_id", "text", 3))
      val contaminated = Dedup.contaminationFromPostings(
          postings.where(col("id") % 50 =!= 0),
          postings.where(col("id") % 50 === 0), minShared = 3L)
        .select(col("doc_id"))
      val st2 = TextOps.repetitionStats(col("text"), 2)
      docs.join(keepers, Seq("doc_id"), "semi")
        .where(col("doc_id") % 50 =!= 0)
        .join(contaminated, Seq("doc_id"), "anti")
        .select(col("doc_id"),
          TextOps.qualityScoreMilli(col("text")).as("quality_milli"),
          st2.getField("total").as("n_2grams"),
          st2.getField("distinct").as("n_distinct_2grams"))
        .withColumn("rep_2gram_milli",
          when(col("n_2grams") > 0,
            ((col("n_2grams") - col("n_distinct_2grams")) * 1000 / col("n_2grams"))
              .cast("long"))
          .otherwise(lit(0L)))
        .where(col("quality_milli") >= 600 && col("rep_2gram_milli") <= 100)
        .select(col("doc_id"), col("quality_milli"), col("rep_2gram_milli"))
        .orderBy(col("doc_id"))
    }),

    // MinHash dedup groups: like q65 but over the MinHash (shingle-set)
    // candidate graph — linear star edges per signature-band bucket feed
    // the large-star/small-star component resolver.
    "q70_minhash_components" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val labeled = minhashComponents(docs)
      val sizes = labeled.groupBy(col("comp")).agg(count(lit(1)).as("comp_size"))
      labeled.join(sizes, Seq("comp")) // see q65: sizes join, not a window
        .select(col("id").as("doc_id"), col("comp"), col("comp_size"))
        .orderBy(col("doc_id"))
    }),

    // Unblocked embedding near-dup: LSH sign-bucket blocking (the same
    // deterministic md5-parity hyperplanes q47 probes, mirrored as SQL
    // literals in the oracle) + exact cosine within the bucket — the scale
    // path when no curated blocking column exists.
    "q71_embedding_lsh_dedup" -> ((s, d) =>
      Dedup.embeddingLshPairs(t(s, d, "embeddings"), "vec_id", "embedding",
          numPlanes = 6, dim = 64, minSim = 0.3)
        .orderBy(col("id_a"), col("id_b"))),

    // Incremental ingest dedup: treat doc_id % 10 < 8 as the already-
    // indexed corpus (its persisted fingerprint set), the rest as the new
    // batch — survivors are batch keepers whose content the index has
    // never seen. Intra-batch dedup runs BEFORE the index anti-join, so
    // the join probes one row per distinct content (skew-proof).
    "q72_incremental_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val index = docs.where(col("doc_id") % 10 < 8)
        .select(TextOps.contentFingerprint(col("text")).as("fingerprint"))
      Dedup.incrementalExactDedup(docs.where(col("doc_id") % 10 >= 8),
          "doc_id", "text", index, fingerprintOut = Some("fingerprint"))
        .select(col("doc_id"), col("fingerprint"))
        .orderBy(col("doc_id"))
    }),

    // Incremental NEAR-dup screening: new-batch docs whose MinHash bands
    // collide with the persisted corpus index, with the per-doc matching-
    // band count as the S-curve signal.
    "q73_incremental_minhash" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val index = Dedup.minhashBandPostings(
        docs.where(col("doc_id") % 10 < 8), "doc_id", "text",
        n = 3, numHashes = 8, bands = 4)
      Dedup.incrementalMinhashSuspects(docs.where(col("doc_id") % 10 >= 8),
          "doc_id", "text", n = 3, numHashes = 8, bands = 4, index)
        .select(col("id").as("doc_id"), col("n_matching_bands"))
        .orderBy(col("doc_id"))
    }),

    // Bloom-prefiltered decontamination: same contract as q66 (different
    // split/threshold so the two queries stay distinct) but the corpus
    // side probes a broadcast Bloom filter before anything shuffles — the
    // shape for benchmark suites too big to broadcast exactly. The result
    // is bit-identical to the plain join for any fpp, which is exactly
    // what the oracle checks.
    "q74_bloom_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val tr = mat(Dedup.shinglePostings(
        docs.where(col("doc_id") % 40 =!= 0), "doc_id", "text", n = 3))
      val te = mat(Dedup.shinglePostings(
        docs.where(col("doc_id") % 40 === 0), "doc_id", "text", n = 3))
      // The bloom build is an ACTION at construction time; under lazy plan
      // inspection (graft.materialize=false) degrade to the plain exact
      // join — same semantics by the operator's bit-identity contract, and
      // no job may run before Explain prints a plan.
      if (!Materialize.enabled(s))
        Dedup.contaminationFromPostings(tr, te, minShared = 2L)
          .orderBy(col("doc_id"))
      else
        Dedup.contaminationFromPostingsBloom(tr, te, minShared = 2L, fpp = 0.01)
          .orderBy(col("doc_id"))
    }),

    // Training-mix assembly: fill a per-source TOKEN budget (varying by
    // source) with the deterministic md5 draw — the bucketed two-phase
    // cumulative sum, bit-identical to the oracle's naive window.
    "q75_mixture_sample" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_toks", TextOps.tokenCount(col("text")).cast("long"))
      val budgets = docs.select(col("source")).distinct()
        .withColumn("budget",
          lit(500L) + lit(250L) *
            (sourceNum % 4L))
      operators.Mixture.tokenBudgetSample(docs, "source", col("n_toks"),
          col("doc_id"), budgets)
        .select(col("doc_id"), col("source"), col("n_toks"))
        .orderBy(col("doc_id"))
    }),

    // Containment near-dup pairs over the same shingle postings as q42:
    // |A∩B| / min(|A|,|B|) catches subset-duplicates (a short doc embedded
    // in a long one) that symmetric Jaccard structurally misses.
    "q77_containment_pairs" -> ((s, d) => {
      val postings = mat(Dedup.shinglePostings(t(s, d, "documents"),
        "doc_id", "text", 3))
      Dedup.ngramContainmentFromPostings(postings,
          minContainment = 0.6, maxDocFreq = Some(100L))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // The curation pipeline of the NEW ops, composed end-to-end:
    // boilerplate-block removal → quality scoring of the CLEANED text →
    // quality-weighted importance sampling → per-source token-budget
    // mixture. Every stage deterministic, so the whole chain oracles.
    "q79_curation_pipeline" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // `source` rides the segment pass as a carry column — the join back
      // to documents it replaces shuffled the reassembled text a second
      // time and re-scanned the table (the pipeline's one >2×-oracle
      // stage in round 9's bench).
      val scored = Dedup.segmentDedup(docs, "doc_id",
          Dedup.tokenBlocks(col("text"), 12), maxCount = 2L,
          carryCols = Seq("source"))
        .where(col("n_kept") >= 1)
        .select(col("id").as("doc_id"), col("source"), col("text_clean"))
        .withColumn("quality_milli",
          TextOps.qualityScoreMilli(col("text_clean")))
      // Cached (lazily): Mixture references its input twice (bucket sums +
      // the classification join) — uncached, each reference re-derives the
      // whole clean→score→sample chain (per-branch column pruning makes
      // the subtrees non-identical, so ReusedExchange does NOT collapse
      // them — measured 3.3 s vs 1.9 s floor). Lazy persist, not an eager
      // checkpoint: the cache fills during the bucket-sum stage, so the
      // pipeline runs one job fewer. n_toks is computed BEFORE the cache
      // boundary so it holds four scalar columns, not the document text.
      val sampled = mat(operators.WindowOps.importanceSample(scored,
          col("doc_id"), col("quality_milli"))
        .withColumn("n_toks", TextOps.tokenCount(col("text_clean")).cast("long"))
        .select(col("doc_id"), col("source"), col("quality_milli"),
          col("n_toks")))
      // Uniform 800-token budget: the constant-budget overload skips the
      // per-source budgets frame (a distinct shuffle + broadcast the
      // oracle's WHERE-budget mirror never needed).
      operators.Mixture.tokenBudgetSample(sampled, "source", col("n_toks"),
          col("doc_id"), lit(800L))
        .select(col("doc_id"), col("source"), col("quality_milli"), col("n_toks"))
        .orderBy(col("doc_id"))
    }),

    // Quality-weighted importance sampling: each doc keeps with
    // probability quality_milli/1000 under a deterministic md5 draw —
    // soft filtering instead of a hard quality threshold.
    "q78_importance_sample" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("quality_milli", TextOps.qualityScoreMilli(col("text")))
      operators.WindowOps.importanceSample(docs, col("doc_id"),
          col("quality_milli"))
        .select(col("doc_id"), col("quality_milli"))
        .orderBy(col("doc_id"))
    }),

    // C4-style duplicate-segment removal over 12-token blocks (the corpus
    // has no line structure): any block occurring >2 times corpus-wide is
    // boilerplate; docs are reassembled from their surviving blocks.
    "q76_line_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.segmentDedup(docs, "doc_id", Dedup.tokenBlocks(col("text"), 12),
          maxCount = 2L)
        .select(col("id").as("doc_id"), col("text_clean"),
          col("n_kept"), col("n_removed"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic stratified train/val/test split — hash-labeled, no
    // shuffle; summarized per (source, split) so the oracle checks both
    // membership and token accounting.
    "q80_split_assign" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_toks", TextOps.tokenCount(col("text")).cast("long"))
      operators.Splits.assignSplit(docs, col("doc_id"),
          Seq(("train", 90), ("val", 95), ("test", 100)))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"))
        .orderBy(col("source"), col("split"))
    }),

    // Concat-and-chunk sequence packing: md5-ordered global token stream
    // chunked into 2048-token bins via the bucketed exact cumulative sum
    // (no giant single-partition window).
    "q81_pack_sequences" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_toks", TextOps.tokenCount(col("text")).cast("long"))
      operators.Packing.packBins(docs, col("n_toks"), col("doc_id"), 2048L)
        .select(col("doc_id"), col("bin"), col("bin_offset"), col("n_toks"))
        .orderBy(col("doc_id"))
    }),

    // SemDeDup: cluster embeddings by nearest stride centroid, drop any
    // vector with a lower-id >= 0.3-cosine neighbor in its cell.
    "q82_semantic_dedup" -> ((s, d) =>
      similarity.Ann.semanticDedup(t(s, d, "embeddings"), "vec_id",
          "embedding", nlist = 16, minCosine = 0.3)
        .orderBy(col("vec_id"))),

    // Exact dedup keeping the BEST copy (q40's groups, different keeper):
    // highest source-trust tier wins, ties -> lowest id.
    "q83_dedup_keep_best" -> ((s, d) =>
      Dedup.exactDedupKeepBest(t(s, d, "documents"), Seq("text"), "doc_id",
          sourceNum % 7)
        .select(col("doc_id"), col("source")).orderBy(col("doc_id"))),

    // Corpus vocabulary: token frequencies per language, top-20 via the
    // skew-ADAPTIVE two-phase top-k: the measured group profile (few
    // groups — each language far exceeds a task share) advises the salt
    // factor, instead of the hand-picked constant rounds ≤ 11 used. A
    // plain rank window would funnel each language through ONE reducer;
    // see topKPerGroupAdaptive. groupBy-count itself is skew-immune: hot
    // tokens reduce map-side.
    "q85_vocab_topk" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // Lazily cached: the adaptive rank's profiling pass fills the cache
      // and the ranking itself reads it — the counts aggregate (the
      // expensive upstream the topKPerGroupAdaptive scaladoc warns about)
      // computes once.
      val counts = matLazy(docs
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("token"))
        .where(col("token") =!= "")
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n")))
      operators.WindowOps.topKPerGroupAdaptive(counts, Seq(col("lang")),
          Seq(col("n").desc, col("token")), k = 20)
        .select(col("lang"), col("token"), col("n"), col("rank"))
        .orderBy(col("lang"), col("rank"))
    }),

    // The pre-training assembly pipeline end-to-end: exact-dedup keepers →
    // quality gate → deterministic train split → global concat-and-chunk
    // packing. Every stage deterministic, so the whole chain oracles
    // against one independent CTE chain. Premise: doc_id is unique (the
    // corpus contract) — a duplicated id would survive dedup twice in the
    // engine (documented exactDedup tie behavior) but multiply through the
    // oracle's re-join instead.
    "q87_pretraining_pipeline" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val keepers = Dedup.exactDedup(docs, Seq("text"), "doc_id")
      val scored = keepers
        .withColumn("quality_milli", TextOps.qualityScoreMilli(col("text")))
        .where(col("quality_milli") >= 600)
      // Cached SLIM (three scalar columns, no text, lazy persist): packBins
      // references its input twice (bucket-sum pass + the broadcast-seeded
      // join pass) — uncached, the whole dedup→score→split→tokenize chain
      // re-derives for each reference; an eager checkpoint would pay an
      // extra scheduling job for no added sharing.
      val train = matLazy(operators.Splits.assignSplit(scored, col("doc_id"),
          Seq(("train", 90), ("holdout", 100)))
        .where(col("split") === "train")
        .withColumn("n_toks", TextOps.tokenCount(col("text")).cast("long"))
        .select(col("doc_id"), col("quality_milli"), col("n_toks")))
      operators.Packing.packBins(train, col("n_toks"), col("doc_id"), 1024L)
        .select(col("doc_id"), col("quality_milli"), col("bin"),
          col("bin_offset"), col("n_toks"))
        .orderBy(col("doc_id"))
    }),

    // Winnowed sub-document overlap: MOSS-style local-min fingerprints
    // (4-token grams, ±3 neighborhood, portable md5 keys), hot
    // fingerprints (doc freq > 50) pruned, docs paired on >= 2 shared
    // selections — catches partial/quoted overlap that doc-level
    // fingerprints and MinHash signatures miss.
    "q88_winnowed_overlap" -> ((s, d) => {
      // The hot-fingerprint prune (df > 50) folds INTO the posting-list
      // aggregate (Dedup.boundedPairCounts' size-capped BoundedCollectSet):
      // the fingerprints shuffle once, no per-key buffer can exceed the
      // cap even on boilerplate fingerprints, no inverted-index self-join.
      // Identical pairs/counts by construction (winnowedFingerprints
      // output is distinct (id, fp)).
      val fps = Dedup.winnowedFingerprints(t(s, d, "documents"),
        "doc_id", "text", k = 4, w = 4)
      Dedup.boundedPairCounts(fps, "fp", "id", maxDocFreq = 50L)
        .where(col("n_shared") >= 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ANN retrieval quality as a first-class oracled query: recall@10 of
    // the LSH index (q47's construction) against the brute-force exact
    // ranking (q46's) per query point. The approximate paths' recall was
    // previously spec-only (AnnSpec); this makes the measurement itself
    // cross-engine-verified. n_exact is always k (corpus >> k, self
    // excluded on both sides); recall_milli is floor-exact integer.
    "q89_ann_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val qs = emb.where(col("vec_id") < 20)
      val exact = Ann.bruteForceTopK(qs, emb, "vec_id", "embedding", 10)
        .select(col("query_id"), col("corpus_id"))
      val approx = Ann.lshTopK(qs, emb, "vec_id", "embedding",
          k = 10, numPlanes = 6, dim = 64, multiProbe = 1)
        .select(col("query_id"), col("corpus_id"), lit(1).as("__hit"))
      exact.join(approx, Seq("query_id", "corpus_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_exact"), count(col("__hit")).as("n_hit"))
        .withColumn("recall_milli",
          floor(col("n_hit") * lit(1000) / col("n_exact")).cast("long"))
        .orderBy(col("query_id"))
    }),

    // Per-key exact EWMA (pandas ewm(alpha=0.2, adjust=False) semantics)
    // via ScanOps' in-row sequential fold — a linear recurrence that no
    // window frame or higher-order fold expresses per-row (the naive
    // c^(−j) sum formulation overflows past a few thousand rows). Keyed by
    // (user_id, event_type): bounded per-key series, ONE shuffle. The
    // oracle runs the SAME double chain via list_reduce prefix folds, so
    // values agree bit-for-bit before the 6 dp display rounding. The
    // unbounded-single-series scale path is ScanOps.ewmaGlobal
    // (segmented scan, spec-verified — float drift makes it non-oracleable).
    "q90_ewma" -> ((s, d) =>
      ScanOps.ewmaPerKey(t(s, d, "events"), Seq("user_id", "event_type"),
          Seq("ts", "event_id"), col("value"), alpha = 0.2, "value", "ewma")
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("value"), round(col("ewma"), 6).as("ewma"))
        .orderBy(col("user_id"), col("event_type"), col("event_id"))),

    // Pre-training prep: sliding-window token chunking (max_len=64 tokens,
    // stride=48 → 16-token overlap), the standard long-document splitter
    // feeding sequence packing (q81). sequence+slice+explode — per-doc
    // bounded work, scan-local until the display sort; chunk identity
    // travels as md5 so the output stays narrow at corpus scale.
    "q91_doc_chunks" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)),
            lit(48))).as("s"))
        .select(col("doc_id"),
          (col("s") / lit(48)).cast("long").as("chunk_idx"),
          slice(col("toks"), col("s") + 1, lit(64)).as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).as("n_chunk_toks"),
          md5(array_join(col("chunk"), " ").cast("binary")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

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
    "q92_rolling_corr" -> ((s, d) => {
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
    }),

    // Event-sequence funnel: for every click, the exact microsecond lag to
    // the SAME user's next purchase, kept when conversion lands within 30
    // minutes. The "next matching event" comes from a min over the
    // strictly-following window frame — per-user partitions, bounded
    // state, no self-join. (asofJoin covers the backward direction; this
    // is the forward shape.)
    "q93_funnel" -> ((s, d) => {
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
    }),

    // Distribution-drift monitoring: exact two-sample Kolmogorov–Smirnov
    // statistic per event_type between the even- and odd-id halves (the
    // train/holdout drift check a data pipeline runs between snapshots).
    // The ECDFs run over the DISTINCT-value spine: the groupBy collapses
    // row count to value cardinality first (map-side combined), so the
    // per-type window scans distinct values, not raw rows — at
    // unbounded-cardinality 100 TB the spine itself would first be
    // histogram-bucketed (approx_percentile cut points), trading exactness
    // for a bound; here the metric domain is small and the ECDF is exact.
    "q94_ks_drift" -> ((s, d) => {
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
    }),

    // Population stability index per event_type — the standard ML-ops
    // drift score over fixed-width value buckets (PSI < 0.1 stable,
    // > 0.25 drifted). Proportions are taken against each half's FULL
    // population; buckets empty on either side are excluded from the sum
    // (the deterministic variant of the epsilon fudge, mirrored exactly in
    // the oracle — ln(0) is the alternative). Bucket spine per type is
    // value-range/width rows, so the totals window runs over a collapsed
    // frame, not raw events.
    "q96_psi_drift" -> ((s, d) => {
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
    }),

    // Categorical drift: chi-square independence statistic of the
    // (event_type × id-parity-half) contingency table — one aggregation
    // over 5×2 counts, totals joined back as a broadcast 1-row frame.
    "q95_chi2_drift" -> ((s, d) => {
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
    }),

    // Corpus snapshot diff: classify every doc id as added / removed /
    // changed / unchanged between two simulated pipeline runs (old = ids
    // outside the %7==1 slice; new = ids outside the %11==2 slice, with
    // the %13==0 slice's text rewritten). Content equality travels as a
    // 12-byte hash signature — the full-outer join never shuffles text.
    "q97_snapshot_diff" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val oldSnap = docs.where(col("doc_id") % 7 =!= 1)
      val newSnap = docs.where(col("doc_id") % 11 =!= 2)
        .withColumn("text",
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
      SetOps.snapshotDiff(oldSnap, newSnap, "doc_id", Seq("text"))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // Tokenizer merge-candidate scoring: top adjacent-token collocations
    // by integer-exact lift (the statistic a BPE-style vocabulary learner
    // ranks). Pair + unigram counts are map-side-combined; the top-k is a
    // TakeOrderedAndProject, never a global sort.
    "q98_pmi_collocations" -> ((s, d) =>
      functions.Collocations.topCollocations(t(s, d, "documents"), "text",
        minCount = 5L, k = 100)),

    // Per-suite contamination attribution: the held-out set is split into
    // three benchmark suites; each contaminated training doc reports its
    // worst-overlapping suite, that overlap, and how many suites flagged
    // it — the leak report a multi-benchmark eval pipeline needs.
    "q99_contamination_attribution" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val postings = mat(Dedup.shinglePostings(docs, "doc_id", "text", 3))
      val testSuites = postings.where(col("id") % 50 === 0)
        .select(concat(lit("suite"), (col("id") % 3).cast("string")).as("suite"),
          col("shh"))
      Dedup.contaminationBySuiteFromPostings(
          postings.where(col("id") % 50 =!= 0), testSuites, minShared = 3L)
        .orderBy(col("doc_id"))
    }),

    // Per-language quality deciles via the bounded value-histogram cumsum
    // (quality_milli ∈ [0,1000]) — ntile's per-group window would serialize
    // each language through one sort task at corpus scale; the histogram
    // dim is ≤ langs×1001 rows and broadcasts back. All ties share a
    // bucket, so the label is value-deterministic and oracle-reproducible.
    "q100_quality_deciles" -> ((s, d) => {
      // Cached (lazily): histogramBuckets references its input twice (the
      // value histogram + the probe side of the join-back) — uncached, the
      // expensive quality expression re-scores the corpus once per
      // reference (measured ~0.5 s of the query at sf0.1).
      val scored = matLazy(t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.qualityScoreMilli(col("text")).as("quality_milli")))
      Calibrate.histogramBuckets(scored, Seq("lang"),
          "quality_milli", buckets = 10, bucketOut = "decile")
        .select(col("doc_id"), col("lang"), col("quality_milli"), col("decile"))
        .orderBy(col("doc_id"))
    }),

    // Statistical LM quality scoring (CCNet shape): per-doc average NLL
    // under an add-one-smoothed bigram model trained on the corpus itself.
    "q86_bigram_lm_score" -> ((s, d) =>
      functions.LmScore.bigramNll(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // Representative selection over NEAR-dup groups: q70's MinHash
    // components, then keep the highest-trust member of each component
    // (ties -> lowest id) — the full dedup story: resolve groups, then
    // pick the copy worth training on.
    "q84_near_dup_keep_best" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // NOT mat()'d: keepBestPerGroup does reference this twice, but the
      // expensive part (component labels) is already RDD-backed from the
      // contraction, so each reference only re-runs a cheap broadcast
      // join — measured 4.6 s vs 4.8 s WITH the extra checkpoint at sf0.1.
      val withMeta = minhashComponents(docs)
        .select(col("id").as("doc_id"), col("comp"))
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .withColumn("trust", sourceNum % 7)
      Dedup.keepBestPerGroup(withMeta, "comp", "doc_id", col("trust"))
        .select(col("doc_id"), col("comp"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // Gap-based sessionization: per-user visit episodes (30-min inactivity
    // closes a session) with ordinal, size, bounds and duration — the
    // event-stream → interaction-episode rollup. One exchange on user_id
    // serves both windows AND the final aggregate (the group key extends
    // the partition key).
    "q101_sessionization" -> ((s, d) =>
      operators.Sessionize.sessionStats(t(s, d, "events"),
          "user_id", "ts", "event_id", gapSec = 1800L)
        .orderBy(col("user_id"), col("session_idx"))),

    // Temperature-scaled language mixing at T=2: accept docs of language l
    // with probability sqrt(n_min/n_l) under the deterministic md5 draw —
    // the small-language upweighting rule of multilingual sampling, exact
    // because sqrt is IEEE-correctly-rounded everywhere. Stratified by
    // lang (the one skewed stratum in the testdata — en is ~40%), so the
    // acceptance filter is actually exercised.
    "q102_temperature_mix" -> ((s, d) =>
      operators.Mixture.temperatureSample(t(s, d, "documents"),
          "lang", col("doc_id"))
        .select(col("doc_id"), col("lang"), col("keep_ppm"))
        .orderBy(col("doc_id"))),

    // Diversified selection: the 100 best docs by quality overall, capped
    // at 10 per source — the "best of corpus, no domain monopoly" pick.
    // Per-group cap via the salted two-phase rank; the global cut is a
    // TakeOrderedAndProject over ≤ sources×10 survivors.
    "q104_diversified_topk" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("quality_milli", TextOps.qualityScoreMilli(col("text")))
      operators.WindowOps.diversifiedTopK(docs,
          Seq(col("source")),
          Seq(col("quality_milli").desc, col("doc_id")),
          perGroup = 10, k = 100)
        .select(col("doc_id"), col("source"), col("quality_milli"),
          col("group_rank").cast("long").as("group_rank"))
    }),

    // Dataset-card rollup: the per-(lang × source) + marginal + grand-total
    // statistics a corpus snapshot publishes alongside itself — one CUBE
    // aggregation (map-side combined like any hash aggregate; 4 grouping
    // sets over the same scan, no re-reads). avg is exact-sum/exact-count,
    // so the double division is engine-identical; rounded anyway.
    // Byte-entropy quality signal via the codegen'd char_entropy
    // expression — one histogram pass per row inside the projection, no
    // char explode (which would multiply corpus rows by document LENGTH
    // before the first shuffle). Low entropy flags repeated boilerplate /
    // degenerate text; high entropy flags encoded blobs.
    "q109_char_entropy" -> ((s, d) => {
      Expressions.ensureRegistered(s)
      t(s, d, "documents")
        .select(col("doc_id"),
          round(Expressions.charEntropy(col("text")), 6).as("entropy_bits"))
        .orderBy(col("doc_id"))
    }),

    // Per-doc n-gram novelty vs everything earlier in id order: the
    // "how much of this doc is new text" curation signal. One
    // groupBy(hash)→min(id), one join back, one per-doc count — all
    // shuffles keyed by shingle hash or doc id, nothing quadratic.
    "q110_ngram_novelty" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val postings = mat(Dedup.shinglePostings(docs, "doc_id", "text", n = 3))
      Dedup.ngramNoveltyFromPostings(docs.select(col("doc_id").as("id")), postings)
        .select(col("id").as("doc_id"), col("n_shingles"),
          col("novel_shingles"), col("novelty_milli"))
        .orderBy(col("doc_id"))
    }),

    // Longest aligned common 3-gram run per pair (exact-substring dedup
    // signal, Lee et al. 2022): inverted-index join on the n-gram hash
    // with a doc-frequency skew cap, then the islands trick groups
    // consecutive matches at one positional displacement — the window
    // partitions by (pair, displacement), bounded by the shorter doc.
    "q111_aligned_runs" -> ((s, d) => {
      val postings = mat(Dedup.positionalShinglePostings(
        t(s, d, "documents"), "doc_id", "text", n = 3))
      Dedup.alignedRunsFromPostings(postings, n = 3, minRun = 5,
          maxDocFreq = Some(100))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Cohort retention matrix over events: users bucketed by first-active
    // day, exact distinct actives per (cohort, day-offset) cell. The raw
    // stream collapses to distinct (user, day) FIRST; everything after
    // works on that much smaller frame.
    "q112_cohort_retention" -> ((s, d) => {
      AggOps.cohortRetention(t(s, d, "events"), "user_id", "ts")
        .orderBy(col("cohort_day"), col("day_offset"))
    }),

    // Longest internal aligned 3-gram repeat per doc (verbatim template
    // spam): the doc self-joined at positive displacement, same islands
    // trick as q111, with a per-doc occurrence cap so a degenerate
    // repeated-word doc can't square its own length.
    "q114_self_repetition" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val postings = mat(Dedup.positionalShinglePostings(docs,
        "doc_id", "text", n = 3))
      Dedup.selfAlignedRunsFromPostings(docs.select(col("doc_id").as("id")),
          postings, n = 3, maxOccurrences = 50)
        .select(col("id").as("doc_id"), col("rep_run_kgrams"),
          col("rep_run_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Zipf power-law fit over the corpus vocabulary: log-log OLS of
    // frequency on rank for the deterministic top-500 (cnt DESC, word).
    // The regression runs over ≤ 500 rows — the single-partition rank
    // window is bounded by the vocab cut, not the corpus; the word counts
    // are a map-side-combined aggregate.
    "q115_zipf_fit" -> ((s, d) => {
      val words = t(s, d, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      val top = words.orderBy(col("cnt").desc, col("w")).limit(500)
      val ranked = top.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("w"))))
      ranked.agg(
        count(lit(1)).as("n_vocab"),
        round(regr_slope(log(col("cnt")), log(col("rank"))), 6).as("zipf_slope"),
        round(regr_intercept(log(col("cnt")), log(col("rank"))), 6)
          .as("zipf_intercept"),
        round(regr_r2(log(col("cnt")), log(col("rank"))), 6).as("zipf_r2"))
    }),

    // MinHash estimator-quality evaluation (the q89-style harness for the
    // dedup family): every LSH candidate pair's slot-match estimate vs its
    // exact n-gram Jaccard, both in exact integer milli (8 slots → match
    // count × 125; true = inter·1000 div union). The exact side restricts
    // postings to candidate docs FIRST — the quadratic join runs over the
    // near-dup cluster members only, never the corpus.
    "q116_minhash_error" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val sig = minhashSignatureFrame(docs)
      val banded = Dedup.minhashBandPostingsFromSignatures(sig,
        numHashes = 8, bands = 4)
      val cand = Dedup.candidatePairsFromBandPostings(banded)
      val sa = sig.select(col("id").as("id_a") +:
        (0 until 8).map(i => col(s"mh$i").as(s"a$i")): _*)
      val sb = sig.select(col("id").as("id_b") +:
        (0 until 8).map(i => col(s"mh$i").as(s"b$i")): _*)
      val matches = (0 until 8)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      val est = cand.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
        .select(col("id_a"), col("id_b"), (matches * 125).as("est_milli"))
      val postings = mat(Dedup.shinglePostings(docs, "doc_id", "text", 3))
      val candIds = cand.select(col("id_a").as("id"))
        .union(cand.select(col("id_b").as("id"))).distinct()
      val cp = postings.join(candIds, Seq("id"), "left_semi")
      val sizes = cp.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
      val inter = cp.select(col("id").as("id_a"), col("shh"))
        .join(cp.select(col("id").as("id_b"), col("shh")), Seq("shh"))
        .where(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
      est.join(inter, Seq("id_a", "id_b"), "left")
        .join(broadcast(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a"))),
          Seq("id_a"))
        .join(broadcast(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b"))),
          Seq("id_b"))
        .withColumn("inter", coalesce(col("inter"), lit(0L)))
        .withColumn("true_milli",
          (col("inter") * 1000 / (col("n_a") + col("n_b") - col("inter")))
            .cast("long"))
        .withColumn("err_milli", abs(col("est_milli") - col("true_milli")))
        .select(col("id_a"), col("id_b"), col("est_milli"), col("true_milli"),
          col("err_milli"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Deterministic output sharding + balance audit: md5-draw shard
    // assignment (pure projection, cross-engine reproducible), per-shard
    // doc/token totals, and each shard's load in exact integer milli of
    // the uniform share (1000 = perfectly balanced).
    "q113_shard_balance" -> ((s, d) => {
      val S = 16
      val sharded = Splits.assignShard(
        t(s, d, "documents")
          .withColumn("n_toks", TextOps.tokenCount(col("text")).cast("long")),
        col("doc_id"), numShards = S)
      // Materialize the 16-row per-shard frame: the totals side otherwise
      // re-aggregates from a SECOND corpus scan (two full passes at scale).
      val per = mat(sharded.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks")))
      val tot = per.agg(sum(col("n_toks")).as("tot_toks"))
      per.crossJoin(broadcast(tot))
        .select(col("shard"), col("n_docs"), col("n_toks"),
          (col("n_toks") * lit(1000L) * S / col("tot_toks")).cast("long")
            .as("load_milli"))
        .orderBy(col("shard"))
    }),

    "q108_dataset_card" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_toks", TextOps.tokenCount(col("text")).cast("long"))
        .withColumn("quality_milli", TextOps.qualityScoreMilli(col("text")))
      // Mean as exact integer micro-units (sum·1000 div n), never
      // round(avg(...),6): a double mean on a half-ulp boundary flips the
      // 6th decimal with Spark's partition-order summation (the q149/q108
      // cross-engine hazard). sum ≤ 1e15 even at 1e12 docs, ·1000 fits long.
      docs.cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_toks"),
          sum(col("quality_milli")).as("sum_quality_milli"),
          grouping_id().as("gid"))
        .withColumn("avg_quality_micro",
          expr("sum_quality_milli * 1000 div n_docs"))
        .select(col("lang"), col("source"), col("n_docs"), col("n_toks"),
          col("sum_quality_milli"), col("avg_quality_micro"), col("gid"))
        .orderBy(col("gid"), col("lang"), col("source"))
    }),

    // Cluster-balanced sampling: up to 5 vectors per embedding cell under
    // the deterministic md5 draw — the "uniform over semantic space, not
    // over raw counts" selection (dense clusters stop dominating the
    // sample). Composes the IVF cell assignment with the salted
    // stratified-quota rank.
    "q107_cluster_balanced_sample" -> ((s, d) => {
      val cells = Ann.clusterAssign(t(s, d, "embeddings"),
        "vec_id", "embedding", nlist = 16)
      operators.WindowOps.stratifiedSample(cells, Seq(col("cell")),
          col("vec_id"), nPerGroup = 5)
        .select(col("vec_id"), col("cell"), col("rank").cast("long").as("rank"))
        .orderBy(col("vec_id"))
    }),

    // Incremental embedding dedup: new-batch vectors (vec_id % 10 >= 8)
    // screened against the indexed corpus via LSH sign buckets + rounded
    // cosine — the embedding counterpart of q72/q73's incremental ingest
    // gates. Suspects report match count and best index match.
    "q106_incremental_embedding" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Dedup.incrementalEmbeddingSuspects(
          emb.where(col("vec_id") % 10 >= 8),
          emb.where(col("vec_id") % 10 < 8),
          "vec_id", "embedding", numPlanes = 6, dim = 64, minSim = 0.3)
        .orderBy(col("vec_id"))
    }),

    // Tokenizer-fit scoring: per-doc out-of-vocabulary rate against the
    // corpus's own top-1000 tokens (the coverage check run before
    // committing to a vocabulary). Token counts map-side combine; the
    // top-1000 cut is a TakeOrderedAndProject under a total order
    // (count desc, token); the tiny vocab broadcasts back and the per-doc
    // flag-sum is one aggregate over the exploded tokens.
    "q105_oov_rate" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("__n"))
        .orderBy(col("__n").desc, col("tok")).limit(1000)
        .select(col("tok"), lit(1).as("__in_vocab"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"),
          count(when(col("__in_vocab").isNull, 1)).as("n_oov"))
        .withColumn("oov_milli", expr("n_oov * 1000 div n_toks"))
        .orderBy(col("doc_id"))
    }),

    // Corpus diversity per source: total vs distinct 3-gram shingles and
    // the distinct-ratio in milli — the repetitiveness/diversity signal a
    // mixture designer reads before weighting a source. The metric needs
    // no doc identity, so `source` rides the shingle explode directly —
    // ONE scan, zero joins (the postings+rejoin spelling broadcast the
    // EXPLODED side at toy scale and would shuffle corpus-sized rows
    // twice at 100 TB). Distinct counts run on the 8-byte xxhash64 of the
    // shingle (two-phase partial aggregate); the oracle counts distinct
    // raw shingles — identical barring a 64-bit collision.
    "q103_source_diversity" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("source"), explode(Dedup.shingles(col("text"), 3)).as("sh"))
        .select(col("source"), xxhash64(col("sh")).as("shh"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_shingles"),
          count_distinct(col("shh")).as("n_distinct_shingles"))
        .withColumn("diversity_milli",
          expr("n_distinct_shingles * 1000 div n_shingles"))
        .orderBy(col("source"))),

    // Count-Min Sketch error evaluation (q116's harness shape for the
    // frequency-sketch family): the 4×1024 portable-md5 CMS built from the
    // exact vocabulary counts, probed at the exact top-20 tokens. est ≥
    // exact by construction; `overcount` measures collision inflation at
    // this width. The sketch is depth×width rows (broadcast); only the
    // vocabulary aggregate touches corpus-sized data.
    "q117_cms_error" -> ((s, d) => {
      // Materialized: the vocab count table feeds the sketch build, the
      // top-20 cut AND the exact join-back — lazy, the corpus-sized
      // explode+agg would run three times.
      val counts = mat(t(s, d, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt")))
      val cms = Sketches.cmsTable(counts, "tok", "cnt", depth = 4, width = 1024)
      val top = counts.orderBy(col("cnt").desc, col("tok")).limit(20)
      Sketches.cmsEstimate(cms, top, "tok", depth = 4, width = 1024)
        .join(broadcast(top), Seq("tok"))
        .select(col("tok"), col("cnt").as("exact_cnt"), col("est").as("est_cnt"),
          (col("est") - col("cnt")).as("overcount"))
        .orderBy(col("tok"))
    }),

    // Duplicate-cluster size distribution: the dup-audit histogram
    // (size → how many clusters, how many docs) over the q70 MinHash
    // components — the number a curation run reports to justify its dedup
    // budget. Two tiny aggregates over the component labels; the heavy
    // lifting is the shared signature→banding→contraction chain.
    "q118_dup_cluster_histogram" -> ((s, d) => {
      val labeled = minhashComponents(t(s, d, "documents"))
      labeled.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
        .orderBy(col("cluster_size"))
    }),

    // Inter-event gap profile per event type: consecutive-event deltas
    // WITHIN each (user, type) stream — the window partitions by user (many
    // keys, bounded per-key history), never by the 5-value event_type,
    // which would funnel the corpus through 5 tasks at 100 TB. All outputs
    // are map-side-combinable sums/counts (no per-type percentile, which
    // would re-sort per group); burst_milli = share of gaps under 60 s.
    "q119_inter_event_gaps" -> ((s, d) => {
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
    }),

    // Per-user behavioral feature extraction (the bot/abuse-screen feature
    // frame a curation run joins against event-derived corpora): one
    // user-keyed window for the gap features, then a user-keyed aggregate
    // that reuses the same hash distribution — the two distinct counts ride
    // the expand inside that keyed aggregate, never a second corpus
    // shuffle. rapid_milli = share of inter-event gaps under 1 s.
    "q120_user_features" -> ((s, d) => {
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
    }),

    // Gopher-style document filter rules (Rae et al. 2021 §A1.1, adapted to
    // integer-only arithmetic): five per-doc gates — token count in
    // [10, 5000], mean word length in [3, 12] (via cross-multiplication,
    // no division), punctuation ≤ 10% of chars, ≥ 2 stopword hits, alpha
    // chars ≥ 50% of non-ws chars — rolled up per source as pass rate +
    // per-rule fail counts. Pure column math; one map-side-combined agg.
    "q121_gopher_flags" -> ((s, d) => {
      val nToks = TextOps.tokenCount(col("text")).cast("long")
      val nonWs = TextOps.nonWsCharCount(col("text")).cast("long")
      val nChars = length(col("text")).cast("long")
      val punct = TextOps.punctCount(col("text")).cast("long")
      val alpha = length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long")
      val stop = TextOps.langScore(col("text"),
        Seq("the", "a", "of", "and", "is")).cast("long")
      t(s, d, "documents")
        .select(col("source"),
          (nToks >= 10 && nToks <= 5000).cast("long").as("r_len"),
          (nonWs >= nToks * 3 && nonWs <= nToks * 12).cast("long").as("r_wordlen"),
          (punct * 10 <= nChars).cast("long").as("r_sym"),
          (stop >= 2).cast("long").as("r_stop"),
          (alpha * 2 >= nonWs).cast("long").as("r_alpha"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("r_len") * col("r_wordlen") * col("r_sym") * col("r_stop")
            * col("r_alpha")).as("n_pass"),
          (count(lit(1)) - sum(col("r_len"))).as("fail_len"),
          (count(lit(1)) - sum(col("r_wordlen"))).as("fail_wordlen"),
          (count(lit(1)) - sum(col("r_sym"))).as("fail_sym"),
          (count(lit(1)) - sum(col("r_stop"))).as("fail_stop"),
          (count(lit(1)) - sum(col("r_alpha"))).as("fail_alpha"))
        .withColumn("pass_milli", expr("n_pass * 1000 div n_docs"))
        .orderBy(col("source"))
    }),

    // Normalization-aware dedup audit: duplicate counts under the raw
    // fingerprint vs a CCNet-style normalized one (lowercase, non-alnum →
    // space, collapse) — `extra_dups` is what case/punctuation jitter hides
    // from exact dedup. Distinct counts are two-phase partial aggregates on
    // 16-byte md5s; nothing corpus-sized crosses unkeyed.
    "q122_normalized_dedup" -> ((s, d) => {
      val rawFp = TextOps.contentFingerprint(col("text"))
      val normFp = md5(trim(regexp_replace(lower(col("text")),
        "[^a-z0-9]+", " ")).cast("binary"))
      t(s, d, "documents")
        .select(col("source"), rawFp.as("__raw"), normFp.as("__norm"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("__raw")).as("n_raw_distinct"),
          count_distinct(col("__norm")).as("n_norm_distinct"))
        .withColumn("extra_dups",
          col("n_raw_distinct") - col("n_norm_distinct"))
        .orderBy(col("source"))
    }),

    // Hard-negative mining for contrastive training: per query vector
    // (vec_id % 20 == 0), the 3 most-similar DIFFERENT-label vectors with
    // cosine ≤ 0.95 (near-identical candidates are overwhelmingly
    // mislabeled positives — the false-negative poison). Query set
    // broadcasts; the corpus is scanned once.
    "q123_hard_negatives" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Ann.hardNegatives(emb.where(col("vec_id") % 20 === 0), emb,
          "vec_id", "embedding", "label", k = 3, maxSim = 0.95)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Benchmark-suite overlap matrix: pairwise shared distinct 3-gram
    // shingles between the q99 synthetic suites + containment vs the
    // smaller suite — the "are my test sets secretly the same test set"
    // audit run before attributing contamination. Everything is keyed by
    // the 8-byte shingle hash; suite totals broadcast back.
    "q124_suite_overlap" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val su = mat(Dedup.shinglePostings(
          docs.where(col("doc_id") % 50 === 0), "doc_id", "text", 3)
        .select(concat(lit("suite"), (col("id") % 3).cast("string")).as("suite"),
          col("shh"))
        .distinct())
      val sizes = su.groupBy(col("suite")).agg(count(lit(1)).as("n_sh"))
      val pairs = su.select(col("suite").as("suite_a"), col("shh"))
        .join(su.select(col("suite").as("suite_b"), col("shh")), Seq("shh"))
        .where(col("suite_a") < col("suite_b"))
        .groupBy(col("suite_a"), col("suite_b")).agg(count(lit(1)).as("shared"))
      pairs
        .join(broadcast(sizes.select(col("suite").as("suite_a"),
          col("n_sh").as("n_a"))), Seq("suite_a"))
        .join(broadcast(sizes.select(col("suite").as("suite_b"),
          col("n_sh").as("n_b"))), Seq("suite_b"))
        .withColumn("containment_milli",
          expr("shared * 1000 div least(n_a, n_b)"))
        .select(col("suite_a"), col("suite_b"), col("shared"), col("n_a"),
          col("n_b"), col("containment_milli"))
        .orderBy(col("suite_a"), col("suite_b"))
    }),

    // Per-label centroid shift between two corpus halves (vec_id parity) —
    // the embedding-space drift monitor complementing q94–q96's scalar
    // drift family. Per-dim means via posexplode + (label, dim, half)
    // aggregate (map-side combined; never a whole-label array in one task).
    // The mean is order-independent integer math end-to-end: each float
    // component integerizes as floor(greatest(x+1, 0)·2²⁴). The clamp
    // ENFORCES the non-negative dividend the later integer division needs
    // (Spark `div` truncates, DuckDB `//` floors — they only agree for
    // non-negative dividends; a hypothetical component < −1 would
    // otherwise diverge silently). The 2⁻²⁴ quantization is DETERMINISTIC,
    // not lossless — components with mantissa bits below 2⁻²⁴ truncate
    // identically on both engines — which is all cross-engine exactness
    // needs (a double avg here is the q108/q149 partition-order class).
    "q125_centroid_shift" -> ((s, d) => {
      // Materialized: both half-branches read this (labels×dims×2)-row
      // frame; lazy it would re-run the corpus-sized explode+agg twice.
      val cent = mat(t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"), (col("vec_id") % 2).as("half"))
        .agg(expr("sum(CAST(floor(greatest(CAST(x AS DOUBLE) + 1.0d, 0.0d)" +
            " * 16777216.0d) AS BIGINT))" +
            " * 1000000 div (count(*) * 16777216) - 1000000")
          .as("c_micro")))
      val a = cent.where(col("half") === 0)
        .select(col("label"), col("dim"), col("c_micro").as("__a"))
      val b = cent.where(col("half") === 1)
        .select(col("label"), col("dim"), col("c_micro").as("__b"))
      a.join(b, Seq("label", "dim"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_dims"),
          sum((col("__a") - col("__b")) * (col("__a") - col("__b")))
            .as("shift_micro2"))
        .orderBy(col("label"))
    }),

    // Cross-source duplicate-flow matrix: which source pairs carry
    // near-duplicate content (≥ 8 shared distinct 3-gram shingles, hot
    // shingles capped), and how many pairs flow between them — the
    // provenance audit behind a keep-best-source policy (q83). Exact
    // fingerprints would miss everything here (this corpus's duplicates
    // never cross sources verbatim); the shared inverted-index pair core
    // keys everything by the 8-byte shingle hash, and the source labels
    // join onto the tiny surviving pair set.
    "q126_source_copy_matrix" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val postings = mat(Dedup.shinglePostings(docs, "doc_id", "text", 3))
      val pairs = Dedup.sharedShinglePairs(postings, minShared = 8,
        maxDocFreq = Some(100))
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("__sa")),
          Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("__sb")),
          Seq("id_b"))
        .select(least(col("__sa"), col("__sb")).as("source_a"),
          greatest(col("__sa"), col("__sb")).as("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // Boilerplate detector: the 20 hottest 12-token blocks (q76's segmenter)
    // by occurrence, with their distinct-doc reach — what a C4-style line
    // rule would strike first. Counts aggregate on the 8-byte segment hash;
    // the distinct (hash, text) frame joins back only to label the
    // top-20 cut, which is a TakeOrderedAndProject under (count desc, text).
    "q127_boilerplate_segments" -> ((s, d) => {
      val segs = t(s, d, "documents")
        .select(col("doc_id"),
          explode(Dedup.tokenBlocks(col("text"), 12)).as("seg"))
        .select(col("doc_id"), col("seg"), xxhash64(col("seg")).as("segh"))
      // ONE aggregation keyed by the segment hash carries counts, reach
      // AND a representative text (min(seg) — all texts under one hash are
      // equal barring a 64-bit collision, the q42-family tolerance). The
      // two-frame spelling (counts ⋈ distinct texts) explodes the corpus
      // twice and shuffles the strings a second time for the distinct.
      segs.groupBy(col("segh"))
        .agg(min(col("seg")).as("segment"), count(lit(1)).as("n_occ"),
          count_distinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n_occ").desc, col("segment")).limit(20)
        .select(col("segment"), col("n_occ"), col("n_docs"))
    }),

    // Corpus conditional bigram entropy H(next | prev) in nats — the
    // one-scalar fluency/templatedness gauge next to q115's Zipf fit (a
    // template-flooded corpus collapses toward 0). Bigrams via the q86
    // (id, pos+1) equi-join (no per-doc window); count tables map-side
    // combined; only the final Σ c_ab·ln(c_a/c_ab) is floating point,
    // rounded 6.
    "q128_bigram_entropy" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "w")))
      // Materialized: the context-marginal aggregate and the final rollup
      // both read the bigram count table — lazy, the corpus-sized position
      // join would run twice (the sf0.001 plan showed the duplicated
      // SortMergeJoin branch before this checkpoint).
      val cab = mat(toks.select(col("doc_id"), col("pos"), col("w").as("a"))
        .join(toks.select(col("doc_id"), (col("pos") - 1).as("pos"),
          col("w").as("b")), Seq("doc_id", "pos"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab")))
      val ca = cab.groupBy(col("a")).agg(sum(col("c_ab")).as("c_a"))
      cab.join(ca, Seq("a"))
        .agg(sum(col("c_ab")).as("n_bigrams"),
          count_distinct(col("a")).as("n_contexts"),
          count(lit(1)).as("n_distinct_bigrams"),
          // Per-bigram term floored to exact micro-nats BEFORE the
          // corpus-sized sum: a float sum over distinct bigrams is the
          // q108/q149 partition-order class. Terms are nonneg (c_a ≥ c_ab).
          sum(floor(col("c_ab") * log(col("c_a").cast("double") / col("c_ab"))
            * lit(1000000d)).cast("decimal(38,0)")).as("__se"))
        .select(col("n_bigrams"), col("n_contexts"), col("n_distinct_bigrams"),
          expr("__se div n_bigrams").as("cond_entropy_micronats"))
    }),

    // Windowed heavy-hitter estimation as an ORACLED query: per event-hour,
    // the StreamSketch CMS estimate for each present event type against its
    // exact windowed count — the live sketch path's accuracy is itself
    // cross-engine-verified (the q89/q116/q117 harness pattern, now for
    // the streaming counter shape). Runs the SAME windowedCms/
    // windowedEstimates code the streaming query deploys (batch-parity is
    // what StreamSketchSpec pins).
    "q129_windowed_heavy_hitters" -> ((s, d) => {
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
    }),

    // Language-ID confusion matrix: the q37 heuristic evaluated against
    // the labeled lang column as (actual, predicted) counts — the
    // eval-harness companion (q89/q116 pattern) for the text family. One
    // map-side-combined aggregate over the 25-cell matrix.
    "q130_lang_confusion" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("lang"), TextOps.langId(col("text")).as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("pred_lang"))),

    // Do duplicates deserve the dedup budget? Per-source mean quality of
    // fingerprint-duplicated vs unique docs (integer DIV means, −1 for an
    // empty class). The group-size dim is distinct-fingerprint-sized and
    // joins back keyed by the 16-byte fingerprint.
    "q131_dup_quality_gap" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          TextOps.contentFingerprint(col("text")).as("fp"),
          TextOps.qualityScoreMilli(col("text")).as("q"))
      val grp = docs.groupBy(col("fp")).agg(count(lit(1)).as("__n"))
      docs.join(grp, Seq("fp"))
        .withColumn("__dup", (col("__n") > 1).cast("long"))
        .groupBy(col("source"))
        .agg(sum(col("__dup")).as("n_dup_docs"),
          (count(lit(1)) - sum(col("__dup"))).as("n_uniq_docs"),
          expr("""coalesce(sum(CASE WHEN __dup = 1 THEN q END)
                  div nullif(sum(__dup), 0), -1)""").as("q_dup_milli"),
          expr("""coalesce(sum(CASE WHEN __dup = 0 THEN q END)
                  div nullif(count(*) - sum(__dup), 0), -1)""").as("q_uniq_milli"))
        .orderBy(col("source"))
    }),

    // Semi-structured extraction: the events' JSON props column parsed
    // through the TYPED from_json path (schema-projected, codegen'd — the
    // Spark-first spelling for known-shape payloads; get_json_object would
    // re-parse per field) and rolled up per event type. Malformed/missing
    // keys become nulls and are accounted separately.
    "q132_props_extract" -> ((s, d) => {
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
    }),

    // Shingle document-frequency histogram: how duplication mass
    // distributes across df bands — the measurement that SETS the
    // maxDocFreq skew caps the q42/q111/q126 pair cores rely on, instead
    // of guessing them. df per hash is map-side combined; the histogram
    // rolls ≤ distinct-shingle rows into 5.
    "q133_shingle_df_histogram" -> ((s, d) => {
      val dfc = Dedup.shinglePostings(t(s, d, "documents"), "doc_id", "text", 3)
        .groupBy(col("shh")).agg(count(lit(1)).as("df"))
      dfc
        .withColumn("bucket_id",
          when(col("df") === 1, 1).when(col("df") === 2, 2)
            .when(col("df") <= 10, 3).when(col("df") <= 100, 4).otherwise(5))
        .withColumn("df_band",
          when(col("df") === 1, "1").when(col("df") === 2, "2")
            .when(col("df") <= 10, "3-10").when(col("df") <= 100, "11-100")
            .otherwise(">100"))
        .groupBy(col("bucket_id"), col("df_band"))
        .agg(count(lit(1)).as("n_shingles"), sum(col("df")).as("n_postings"))
        .orderBy(col("bucket_id"))
    }),

    // TPC-H Q3 shape (shipping priority): segment-filtered customer ⋈
    // open orders ⋈ still-unshipped lineitems, revenue per order, top-10.
    // Both date filters push to the parquet scans; the two fact joins
    // shuffle on their keys and the final cut is a TakeOrderedAndProject,
    // never a global sort.
    "q134_shipping_priority" -> ((s, d) => {
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
    }),

    // Near-dup candidate-graph degree profile: docs per degree over the
    // q43 band-bucket pair graph (degree 0 = the untouched corpus rest) —
    // the graph-shape audit that predicts contraction-round counts and
    // flags a band config collapsing into a mega-component. Degrees are
    // per-doc counts over the distinct pair set; the histogram rolls
    // doc-count rows into ≤ max-degree rows.
    "q135_dup_graph_degrees" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val sig = minhashSignatureFrame(docs)
      val banded = Dedup.minhashBandPostingsFromSignatures(sig,
        numHashes = 8, bands = 4)
      val pairs = Dedup.candidatePairsFromBandPostings(banded)
      val deg = pairs.select(col("id_a").as("id"))
        .union(pairs.select(col("id_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("degree"))
      val withZero = docs.select(col("doc_id").as("id"))
        .join(deg, Seq("id"), "left")
        .withColumn("degree", coalesce(col("degree"), lit(0L)))
      withZero.groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("degree"))
    }),

    // Token-budget planning: per-source repetition factor for an
    // equal-share 1M-token mixture — repetition_milli > 1000 means that
    // source must repeat (multi-epoch) to fill its share, the number a
    // mixture designer reads BEFORE launching q75's sampler. Pure integer
    // arithmetic over the per-source token totals.
    "q136_token_budget_plan" -> ((s, d) => {
      val budget = 1000000L
      val per = t(s, d, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text")).cast("long")).as("n_toks"))
      val n = per.agg(count(lit(1)).as("__ns"))
      per.crossJoin(broadcast(n))
        .withColumn("target_toks", expr(s"$budget div __ns"))
        .withColumn("repetition_milli",
          expr("target_toks * 1000 div n_toks"))
        .select(col("source"), col("n_docs"), col("n_toks"),
          col("target_toks"), col("repetition_milli"))
        .orderBy(col("source"))
    }),

    // Empirical LSH recall curve: per true-Jaccard band (integer milli,
    // exact), what fraction of genuinely-similar pairs the 8-hash/4-band
    // MinHash blocking actually surfaces — the measured S-curve that
    // validates (or indicts) the band configuration, next to q116's
    // estimator error and q89's ANN recall. Ground truth comes from the
    // capped inverted-index pair core over the materialized postings;
    // detection from the band-bucket candidate set over the materialized
    // signature frame.
    "q137_lsh_recall_curve" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val postings = mat(Dedup.shinglePostings(docs, "doc_id", "text", 3))
      val truth = Dedup.pairOverlapCounts(postings, maxDocFreq = Some(100L))
        .withColumn("j_milli", expr("inter * 1000 div (n_a + n_b - inter)"))
        .where(col("j_milli") >= 50)
        .select(col("id_a"), col("id_b"), expr("j_milli div 100").as("band"))
      // Signatures hash the shingle STRINGS (portable md5 slots), so they
      // cannot derive from the xxhash64 postings — their own materialized
      // frame, the q70/q84 idiom.
      val sig = minhashSignatureFrame(docs)
      val banded = Dedup.minhashBandPostingsFromSignatures(sig, numHashes = 8,
        bands = 4)
      val cand = Dedup.candidatePairsFromBandPostings(banded)
        .withColumn("__det", lit(1L))
      truth.join(cand, Seq("id_a", "id_b"), "left")
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("__det"), lit(0L))).as("n_detected"))
        .withColumn("recall_milli", expr("n_detected * 1000 div n_true"))
        .orderBy(col("band"))
    }),

    // Small-quantity order analysis (TPC-H Q17 shape): revenue from
    // lineitems under half their part's average quantity, per brand. The
    // classic correlated subquery becomes a per-part aggregate DIM joined
    // back by partkey — one extra keyed shuffle, no per-row subquery.
    // Quantities are integral doubles, so sum/count and the ×0.5 threshold
    // are IEEE-exact in both engines.
    "q138_small_qty_parts" -> ((s, d) => {
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
    }),

    // Supply-side rollup joining the two previously-unexercised dims:
    // revenue per supplier nation (lineitem ⋈ supplier ⋈ nation ⋈ region)
    // + supplier counts and account balances. Dims broadcast; the one
    // corpus-sized shuffle keys by suppkey.
    "q139_supplier_nations" -> ((s, d) => {
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
    }),

    // Per-user event-type transition matrix (the first-order Markov counts
    // behind session modeling / bot signatures): lead over the user-keyed
    // window, then a 25-cell aggregate with per-from-state probabilities
    // via a broadcast totals dim.
    "q140_event_transitions" -> ((s, d) => {
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
    }),

    // Left-outer interval join, batch parity for the streaming form
    // (StreamJoinSpec drives the stream path): every purchase with its
    // in-lookback clicks, or nulls when the user clicked nothing — the
    // enrichment join where absence is itself the signal. Same equi+range
    // plan as q64 without the aggregate, so unmatched rows survive.
    "q141_interval_join_outer" -> ((s, d) => {
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
    }),

    // Winsorized per-source quality means: raw vs P5/P95-clipped — the
    // outlier-robust reporting a mixture designer trusts over raw means.
    // Cut values come from Calibrate's nearest-rank histogram machinery
    // (value-deterministic integers; the corpus collapses to the bounded
    // histogram before any window — no per-group sort at 100 TB), then
    // broadcast back for the clip.
    "q142_winsorized_quality" -> ((s, d) => {
      val scored = t(s, d, "documents")
        .select(col("source"), TextOps.qualityScoreMilli(col("text")).as("q"))
      val cuts = Calibrate.nearestRankCuts(scored, Seq("source"), "q",
        Seq(5, 95))
      scored.join(broadcast(cuts), Seq("source"))
        .withColumn("__cq", greatest(col("p5"), least(col("p95"), col("q"))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("p5")).as("p5"), min(col("p95")).as("p95"),
          expr("sum(q) div count(*)").as("mean_q_milli"),
          expr("sum(__cq) div count(*)").as("wins_mean_q_milli"))
        .orderBy(col("source"))
    }),

    // Large-volume customers (TPC-H Q18 shape): the fact table collapses
    // to per-order quantity totals FIRST (map-side-combined sum — the
    // only full lineitem pass), the >250 filter shrinks that to a tiny
    // order set, and only THEN do orders/customer join in — AQE turns
    // the filtered side into a broadcast at any scale where it stays
    // small. TakeOrderedAndProject keeps the top-100 without a global
    // sort. Quantities are small integers in doubles, so the sum and the
    // threshold compare are exact.
    "q143_large_orders" -> ((s, d) => {
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
    }),

    // Per-user max drawdown of the event value series: running peak via
    // an UNBOUNDED PRECEDING max window (per-user series are bounded at
    // high key cardinality; ONE corpus-sized series would route through
    // ScanOps' segmented scan exactly like the global EWMA), then the
    // max peak-relative drop. Doubles stay untouched until the single
    // terminal round(6): peak is a max (exact), (peak-value)/peak is
    // per-row IEEE arithmetic — identical across engines.
    "q144_user_drawdown" -> ((s, d) => {
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
    }),

    // Column profiler — the stats pass a catalog/CBO (or a data-quality
    // gate) runs over a new table: per column null accounting, exact
    // distinct cardinality, min/max. Every column is first canonicalized
    // to ONE sortable string form (zero-padded integers, wall-clock
    // timestamp text, HALF_UP centi-scaled value) so a single narrow
    // 6-way stack feeds one hash aggregate with map-side partials —
    // lexicographic min/max on the canonical form IS the semantic
    // min/max. At 100 TB the exact countDistinct becomes
    // approx_count_distinct; the shape is otherwise unchanged.
    "q145_column_profile" -> ((s, d) => {
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
    }),

    // PageRank over the MinHash candidate graph (q135's pair set) —
    // integer-ppm, 3 rounds: the "template hub" ranking that tells a
    // curator WHICH documents sit at the center of the duplication
    // structure before mass deletion. Each round is one shuffle join
    // against the once-materialized degree-annotated edge list plus one
    // map-side-combined inflow aggregate (Graph.pageRankPpm); the floored
    // integer arithmetic makes every rank bit-identical to the oracle's
    // unrolled-CTE mirror.
    "q146_pagerank" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val banded = Dedup.minhashBandPostingsFromSignatures(
        minhashSignatureFrame(docs), numHashes = 8, bands = 4)
      val pairs = Dedup.candidatePairsFromBandPostings(banded)
      Graph.pageRankPpm(docs.select(col("doc_id")), "doc_id",
          pairs, "id_a", "id_b", iters = 3)
        .orderBy(col("rank_ppm").desc, col("id"))
        .limit(20)
        .select(col("id").as("doc_id"), col("rank_ppm"))
    }),

    // Int8 scalar quantization of the embedding column with measured
    // reconstruction error — the compression decision (4× smaller index)
    // an ANN deployment makes, with the evidence attached. Per-dim
    // min/max via a narrow posexplode into a map-side-combined 64-group
    // aggregate; the two 64-element range arrays broadcast back as ONE
    // row and the quantize/reconstruct/error loop runs inside per-row
    // array lambdas — no explode on the error path. Everything is cast
    // to double BEFORE any arithmetic so both engines run identical
    // float64 ops; the only order-dependent float sums sit under the
    // terminal round(6).
    "q147_embedding_quantize" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val dims = emb
        .select(col("label"), posexplode(col("embedding")).as(Seq("i", "vf")))
        .select(col("i"), col("vf").cast("double").as("v"))
        .groupBy(col("i"))
        .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      val arrs = dims.agg(
        expr("transform(array_sort(collect_list(struct(i, mn))), s -> s.mn)")
          .as("mn_arr"),
        expr("transform(array_sort(collect_list(struct(i, mx))), s -> s.mx)")
          .as("mx_arr"))
      emb.crossJoin(broadcast(arrs))
        .withColumn("sse", expr(
          """aggregate(transform(embedding, (x, i) ->
               CASE WHEN element_at(mx_arr, i+1) = element_at(mn_arr, i+1)
                 THEN 0D
                 ELSE pow(CAST(x AS DOUBLE) - (element_at(mn_arr, i+1)
                   + floor((CAST(x AS DOUBLE) - element_at(mn_arr, i+1)) * 255
                       / (element_at(mx_arr, i+1) - element_at(mn_arr, i+1)) + 0.5)
                     * (element_at(mx_arr, i+1) - element_at(mn_arr, i+1)) / 255), 2)
               END), 0D, (a, b) -> a + b)"""))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          // Exact: per-vector SSE (a deterministic in-row fold) floors to
          // nano units before the per-label sum — the float sum is the
          // q108/q149 partition-order class. max is an order statistic.
          sum(floor(col("sse") * lit(1000000000d))).as("total_sse_nano"),
          round(max(col("sse")), 6).as("max_sse"))
        .orderBy(col("label"))
    }),

    // Last-touch attribution: every purchase credited to the user's most
    // recent non-purchase event within a 30-minute window — computed in a
    // SINGLE per-user window pass (last(..., ignoreNulls) carrying both
    // the type and its timestamp), not a self-join; the as-of-join
    // semantics via the ignore-nulls carry idiom. Per-user series are
    // bounded; the rollup is a tiny grouped aggregate.
    "q148_last_touch" -> ((s, d) => {
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
    }),

    // Hourly resample + forward-fill — the gap-filling the reference's
    // pandas `resample().ffill()` does, distributed: the time spine is
    // GENERATED per type from its min/max hour (sequence+explode — spine
    // size is types × hours, never corpus-sized), hourly aggregates join
    // on, and empty hours carry the last observed (already-rounded) value
    // via the ignore-nulls window. Per-type spine windows are bounded by
    // the calendar, not the data.
    "q149_resample_ffill" -> ((s, d) => {
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
    }),

    // Per-type daily trend via closed-form OLS over aggregate sums — the
    // regression a monitoring dashboard fits, with no per-group sort or
    // collect. Integer-exact end-to-end: daily means are milli-of-centi
    // longs (the q149 fill-value fix — round(avg(),6) here flipped on a
    // half-ulp boundary between engines), the OLS sums are exact long
    // products, and the slope lands as a truncated e-5-units integer (the
    // explicit sign split keeps Spark's div-truncates and DuckDB's
    // //-floors on the same nonnegative operands).
    "q150_trend_slope" -> ((s, d) => {
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
    }),

    // Exact price quartiles per return flag WITHOUT a global sort:
    // extendedprice is centi-scaled to integers (HALF_UP on the exact
    // double, same floor(x*100+0.5) both engines), so the corpus
    // collapses to its value histogram and Calibrate.nearestRankCuts
    // reads the cuts off bounded-size cumulative counts. The histogram is
    // bounded by the PRICE DOMAIN (part price × quantity grid), not the
    // row count — at 100 TB it stays millions of rows while the fact
    // table is billions.
    "q151_price_quartiles" -> ((s, d) => {
      val centi = t(s, d, "lineitem").select(col("l_returnflag"),
        floor(col("l_extendedprice") * 100 + 0.5).as("cp"))
      val cuts = Calibrate.nearestRankCuts(centi, Seq("l_returnflag"), "cp",
        Seq(25, 50, 75))
      centi.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_rows"))
        .join(broadcast(cuts), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n_rows"),
          col("p25"), col("p50"), col("p75"))
        .orderBy(col("l_returnflag"))
    }),

    // Split-leakage audit: near-dup candidate pairs whose members landed
    // in DIFFERENT train/val/test splits — the eval-integrity number a
    // random (non-cluster-aware) split hides. Pairs from the q135 band
    // graph; membership from the same hash-stable assignSplit the
    // pipeline ships, so the audit measures the REAL splits. Rolled up
    // per unordered split pair with an is_leak flag.
    "q152_split_leakage" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val banded = Dedup.minhashBandPostingsFromSignatures(
        minhashSignatureFrame(docs), numHashes = 8, bands = 4)
      val pairs = Dedup.candidatePairsFromBandPostings(banded)
      val split = operators.Splits.assignSplit(docs.select(col("doc_id")),
        col("doc_id"), Seq(("train", 90), ("val", 95), ("test", 100)))
      pairs
        .join(split.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
        .join(split.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
        .select(least(col("sa"), col("sb")).as("split_lo"),
          greatest(col("sa"), col("sb")).as("split_hi"))
        .groupBy(col("split_lo"), col("split_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("is_leak", (col("split_lo") =!= col("split_hi")).cast("int"))
        .orderBy(col("split_lo"), col("split_hi"))
    }),

    // Curriculum ordering: global quality quintile (histogram buckets —
    // no corpus sort) descending, deterministically shuffled WITHIN each
    // bucket by the md5 draw — the easy-first training order, emitted as
    // the first 100 scheduled docs via TakeOrderedAndProject. The only
    // window runs over the ≤1001-row value histogram.
    "q153_curriculum_order" -> ((s, d) => {
      // Lazily cached AND spread: histogramBuckets references the scored
      // frame twice (histogram dim + probe join), and the regex-heavy
      // quality score over a single-split scan otherwise runs twice on
      // one thread. The cache fills during the histogram pass; the probe
      // reads it.
      val scored = matLazy(operators.Spread(t(s, d, "documents"))
        .select(col("doc_id"), TextOps.qualityScoreMilli(col("text")).as("q")))
      Calibrate.histogramBuckets(scored, Seq.empty, "q", 5, "bucket")
        .withColumn("draw", functions.Draws.md5Draw(col("doc_id"), 1000000000L))
        .orderBy(col("bucket").desc, col("draw"), col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("bucket"), col("q"), col("draw"))
    }),

    // Returned-item revenue loss (TPC-H Q10 shape): the 'R' filter cuts
    // the fact scan first, revenue pre-aggregates per order and then per
    // customer BEFORE any dim join, nation broadcasts, and the top-20
    // rides TakeOrderedAndProject on the rounded loss with a unique
    // custkey tiebreak.
    "q154_returned_revenue" -> ((s, d) => {
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
    }),

    // Join-key skew profiler — the reading an engineer takes BEFORE
    // choosing salting/AQE-skew settings: per-key row counts collapse to
    // a count histogram (nearestRankCuts' bounded shape), plus the exact
    // share of rows concentrated above the P99 key. One corpus scan
    // builds the per-key frame (materialized); everything downstream is
    // histogram- or single-row-sized.
    "q155_key_skew" -> ((s, d) => {
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
    }),

    // Time-to-convert distribution: seconds from a user's first event to
    // their first purchase, quartiles off the seconds histogram — one
    // conditional-min aggregate over the corpus (no window, no
    // self-join), then histogram-sized work. Epoch math goes through the
    // NTZ-safe TimeOps helpers; the division runs on the DIFFERENCE so
    // both engines floor identically.
    "q156_time_to_convert" -> ((s, d) => {
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
    }),

    // Dedup-method agreement: the MinHash band candidate pairs vs the
    // SimHash Hamming-verified pairs over the same corpus, bucketed into
    // both/minhash_only/simhash_only — the methodology audit run before
    // trusting either family alone. Full-outer on the pair key; both
    // sides are the banded (never all-pairs) cores.
    "q157_method_agreement" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val banded = Dedup.minhashBandPostingsFromSignatures(
        minhashSignatureFrame(docs), numHashes = 8, bands = 4)
      val m = Dedup.candidatePairsFromBandPostings(banded)
        .withColumn("in_m", lit(1))
      val sh = Dedup.simhashCandidates(docs, "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b")).withColumn("in_s", lit(1))
      m.join(sh, Seq("id_a", "id_b"), "full_outer")
        .select(when(col("in_m").isNotNull && col("in_s").isNotNull, "both")
          .when(col("in_m").isNotNull, "minhash_only")
          .otherwise("simhash_only").as("method"))
        .groupBy(col("method")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("method"))
    }),

    // Content-defined chunking (FastCDC/storage-dedup shape) at token
    // grain: a boundary lands wherever the trigram ending at a position
    // draws 0 mod 16 (the md5 draw — content-defined, so an insertion
    // only reshapes its OWN chunk), chunk ids are the running boundary
    // count, and chunk text hashes dedup across the corpus. Every window
    // is per-doc (scan-local); chunk counting is map-side combined. The
    // single-row report is the storage planner's dedup forecast.
    "q158_cdc_chunk_dedup" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      val wPrev = w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val tk = t(s, d, "documents").select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
      val ch = tk
        .withColumn("t1", lag(col("tok"), 1).over(w))
        .withColumn("t2", lag(col("tok"), 2).over(w))
        .withColumn("is_b", when(col("pos") >= 2 &&
          functions.Draws.md5Draw(
            concat_ws(" ", col("t2"), col("t1"), col("tok")), 16L) === 0,
          1L).otherwise(0L))
        .withColumn("chunk_id", coalesce(sum(col("is_b")).over(wPrev), lit(0L)))
      val chunks = mat(ch.groupBy(col("doc_id"), col("chunk_id"))
        .agg(md5(expr(
          "array_join(transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok), ' ')"))
          .as("ch_hash"),
          count(lit(1)).as("n_toks")))
      val hottest = chunks.groupBy(col("ch_hash"))
        .agg(count(lit(1)).as("cnt")).agg(max(col("cnt")).as("max_chunk_copies"))
      chunks.agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("ch_hash")).as("n_distinct"),
          expr("count(distinct ch_hash) * 1000000 div count(*)").as("distinct_ppm"),
          expr("sum(n_toks) * 1000 div count(*)").as("avg_chunk_toks_milli"))
        .crossJoin(broadcast(hottest))
    }),

    // Join-cardinality estimation from the key histogram — the CBO read
    // that predicts the q64-family self-join's output size EXACTLY
    // (Σ n²) and names the keys that dominate it, before the join runs.
    // Integer math end-to-end; one corpus scan.
    "q159_join_size_estimate" -> ((s, d) => {
      val pk = mat(t(s, d, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("n")))
      val tot = pk.agg(sum(expr("n * n")).as("total_pairs"))
      pk.withColumn("contrib", expr("n * n"))
        .crossJoin(broadcast(tot))
        .select(col("user_id"), col("n"), col("contrib"), col("total_pairs"),
          expr("contrib * 1000000 div total_pairs").as("share_ppm"))
        .orderBy(col("contrib").desc, col("user_id"))
        .limit(5)
    }),

    // Argmax join: each customer's LATEST order and that order's biggest
    // line item — two max_by(struct) aggregates (deterministic composite
    // tiebreaks) joined on the selected key: the top-1-per-group pattern
    // with NO window sort anywhere, the shape that survives a hot
    // customer at any scale. The oracle reproduces it with rank windows —
    // same deterministic result, independent formulation.
    "q160_argmax_join" -> ((s, d) => {
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
    }),

    // Rolling 7-day active users, EXACTLY, via the offset-explode trick:
    // the (day, user) distinct pairs expand 7× onto the days they cover
    // and the rolling distinct becomes a plain groupBy-countDistinct —
    // an EQUI-join shape (no range join, no repeated window scans), the
    // standard way sliding-window distinct survives scale. The spine
    // bounds clip partial windows at the corpus edge.
    "q161_rolling_wau" -> ((s, d) => {
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
    }),

    // Shipping-priority mix per ship month (TPC-H Q12 shape): the fact
    // join keyed by orderkey with the priority classification folded into
    // TWO conditional counts (one pass, no pivot), plus the exact
    // integer-milli mean order→ship delay.
    "q162_ship_priority_mix" -> ((s, d) => {
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(date_trunc("month", col("l_shipdate")).as("ship_month"))
        .agg(sum(when(hi, 1L).otherwise(0L)).as("n_high"),
          sum(when(hi, 0L).otherwise(1L)).as("n_low"),
          expr("sum(datediff(to_date(l_shipdate), to_date(o_orderdate))) " +
            "* 1000 div count(*)").as("delay_days_milli"))
        .orderBy(col("ship_month"))
    }),

    // Sequential pattern mining (lite): the corpus's most common 3-event
    // behavior motifs — per-user ordered trigrams of event types via two
    // scan-local lags, then a map-side-combined global count with
    // distinct-user reach; top-20 rides TakeOrderedAndProject.
    "q163_event_trigrams" -> ((s, d) => {
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
    }),

    // Revenue-change forecast (TPC-H Q6 shape): the pure scan-aggregate —
    // every predicate (year, discount band, quantity cap) pushes into the
    // parquet scan, no join, one map-side-combined global sum. The
    // double literals compare against the same stored doubles in both
    // engines, so the filter set is identical.
    "q164_forecast_revenue" -> ((s, d) =>
      t(s, d, "lineitem")
        .where(year(col("l_shipdate")) === 1996 &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(count(lit(1)).as("n_lines"),
          (sum(floor(col("l_extendedprice") * 100 + lit(0.5)) *
              floor(col("l_discount") * 100 + lit(0.5))) / lit(10000.0))
            .as("revenue_increase"))),

    // Customer order-count distribution (TPC-H Q13 shape): the left join
    // keeps zero-order customers in the histogram — count(o_orderkey)
    // counts matches only — then the doc-count frame collapses to the
    // distribution; both aggregates map-side combine.
    "q165_customer_distribution" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)),

    // Promotion revenue share per ship month (TPC-H Q14 shape): the part
    // dim broadcasts into the fact pass, the promo flag folds into a
    // conditional sum — one join, one aggregate, one terminal round on
    // the share ratio.
    "q166_promo_share" -> ((s, d) =>
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
        .orderBy(col("ship_month"))),

    // Dedup cost/benefit in TOKENS — the number that justifies (or
    // kills) each dedup tier's compute spend: every doc attributed to
    // exactly one stage (exact-dropped by fingerprint, near-dropped by
    // MinHash component keep-min, kept), with token mass per stage. The
    // component keeper is always itself a fingerprint keeper (the comp
    // min is the min of its own fp group), so stages partition cleanly.
    // One materialized base frame feeds both groupings.
    "q167_dedup_savings" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val base = mat(docs.select(col("doc_id"),
        TextOps.contentFingerprint(col("text")).as("fp"),
        TextOps.tokenCount(col("text")).cast("long").as("n_toks")))
      val fpKeep = base.groupBy(col("fp")).agg(min(col("doc_id")).as("fp_keep"))
      val comp = minhashComponents(docs).select(col("id").as("doc_id"), col("comp"))
      val compKeep = comp.groupBy(col("comp"))
        .agg(min(col("doc_id")).as("comp_keep"))
      base.join(fpKeep, Seq("fp")).join(comp, Seq("doc_id"))
        .join(compKeep, Seq("comp"))
        .withColumn("stage",
          when(col("doc_id") =!= col("fp_keep"), "exact_dropped")
            .when(col("doc_id") =!= col("comp_keep"), "near_dropped")
            .otherwise("kept"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("total_tokens"),
          sum(when(col("stage") === "exact_dropped", col("n_toks"))
            .otherwise(0L)).as("exact_dropped_tokens"),
          sum(when(col("stage") === "near_dropped", col("n_toks"))
            .otherwise(0L)).as("near_dropped_tokens"),
          sum(when(col("stage") === "kept", col("n_toks")).otherwise(0L))
            .as("kept_tokens"))
        .withColumn("kept_ppm", expr("kept_tokens * 1000000 div total_tokens"))
    }),

    // Packing efficiency audit: how well q81's 2048-token bins actually
    // fill — capacity utilization in exact integer milli, bin-count
    // accounting, and the under-filled tail. Derives entirely from the
    // bucketed packing (no new corpus pass shape); the per-bin rollup is
    // bin-count-sized.
    "q168_pack_efficiency" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("n_toks", TextOps.tokenCount(col("text")).cast("long"))
      val bins = operators.Packing.packBins(docs, col("n_toks"), col("doc_id"),
          2048L)
        .groupBy(col("bin")).agg(sum(col("n_toks")).as("fill"),
          count(lit(1)).as("n_docs"))
      bins.agg(count(lit(1)).as("n_bins"), sum(col("fill")).as("total_tokens"),
          expr("sum(fill) * 1000 div (count(*) * 2048)").as("mean_fill_milli"),
          min(col("fill")).as("min_fill"), max(col("fill")).as("max_fill"),
          sum(when(col("fill") < 1844, 1L).otherwise(0L)).as("n_under_90pct"))
    }),

    // Shard mixing audit: source-composition entropy per output shard —
    // a well-mixed deterministic sharding should give every shard the
    // corpus's source distribution (entropy ≈ corpus entropy), and a
    // skewed shard is a training-order bug waiting to happen. Counts are
    // exact integers; ln enters once, under the terminal round(6).
    "q169_shard_mixing" -> ((s, d) => {
      val sharded = operators.Splits.assignShard(
        t(s, d, "documents").select(col("doc_id"), col("source")),
        col("doc_id"), 16)
      val cnt = sharded.groupBy(col("shard"), col("source"))
        .agg(count(lit(1)).as("n"))
      val tot = cnt.groupBy(col("shard")).agg(sum(col("n")).as("tot"),
        count(lit(1)).as("n_sources"))
      cnt.join(broadcast(tot), Seq("shard"))
        .groupBy(col("shard"))
        .agg(min(col("tot")).as("n_docs"), min(col("n_sources")).as("n_sources"),
          round(-sum((col("n") / col("tot")) *
            log(col("n") / col("tot"))), 6).as("source_entropy"))
        .orderBy(col("shard"))
    }),

    // Greedy max-coverage selection: the 5 documents that jointly cover
    // the most distinct corpus shingles (the facility-location greedy a
    // seed-set/benchmark curator runs). Regime dispatch by measured
    // cardinality (the q201 pattern — one parquet-metadata count chooses
    // the algorithm, not taste): task-sized corpora take
    // Coverage.greedyCoverExactSmall — strict greedy in ONE distributed
    // job (vs greedyCover's 2k driver-iterated jobs, which dominated the
    // suite's job bill at 38 jobs for k=5) — and past the single-task
    // funnel's ceiling the GreeDi approx path keeps every stage
    // distributed. The doc-row-count branch here only decides whether the
    // full postings frame is worth materializing at all; the funnel's
    // actual memory argument (~10⁸ postings ≈ 1.6 GB/task) is enforced
    // INSIDE greedyCoverExactSmall by a measured postings COUNT
    // (Coverage.exactSmallBuckets — VERDICT-r16: a row-count guard alone
    // would admit a 100k-doc corpus of pathologically long documents).
    // Both regimes count shingle HASHES engine-side vs
    // raw strings oracle-side — equal barring 64-bit collision, the
    // q42-family tolerance; the small regime is row-for-row greedyCover
    // (CoverageSpec pins it), so the strict-greedy oracle gates every
    // scale the driver checks.
    "q170_greedy_cover" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val postings = Dedup.shinglePostings(docs, "doc_id", "text", 3)
      val sel =
        if (docs.count() <= 100000L)
          operators.Coverage.greedyCoverExactSmall(postings, "id", "shh", 5)
        else operators.Coverage.greedyCoverApprox(postings, "id", "shh", 5)
      sel.orderBy(col("round"))
    }),

    // LSH precision audit — q137's complement: of the band-bucket
    // candidate pairs, how many are REAL near-dups at the working
    // thresholds? Candidates left-join the capped exact pair core; a
    // candidate with no surviving truth row (or sub-threshold Jaccard)
    // is a false positive the verify stage must pay to reject.
    "q171_lsh_precision" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val banded = Dedup.minhashBandPostingsFromSignatures(
        minhashSignatureFrame(docs), numHashes = 8, bands = 4)
      val cand = Dedup.candidatePairsFromBandPostings(banded)
      val truth = Dedup.pairOverlapCounts(
          Dedup.shinglePostings(docs, "doc_id", "text", 3),
          maxDocFreq = Some(100L))
        .select(col("id_a"), col("id_b"),
          expr("inter * 1000 div (n_a + n_b - inter)").as("jm"))
      cand.join(truth, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("jm") >= 500, 1L).otherwise(0L)).as("n_true_500"),
          sum(when(col("jm") >= 300, 1L).otherwise(0L)).as("n_true_300"))
        .withColumn("precision500_milli",
          expr("n_true_500 * 1000 div n_candidates"))
    }),

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
    "q172_twap" -> ((s, d) => {
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
    }),

    // Keyword search scoring — the retrieval read-path over the TF-IDF
    // family: docs ranked by Σ tf·ln(N/df) for the query terms. The term
    // filter lands BEFORE any shuffle (only matching tokens leave the
    // scan), df and N broadcast as tiny dims, and the top-10 rides
    // TakeOrderedAndProject on the rounded score.
    "q173_keyword_search" -> ((s, d) => {
      val terms = Seq("spark", "vector", "stream")
      val docs = t(s, d, "documents")
      val tf = mat(docs
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        .where(col("w").isin(terms: _*))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf")))
      val dfd = tf.groupBy(col("w")).agg(countDistinct(col("doc_id")).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      tf.join(broadcast(dfd), Seq("w")).crossJoin(broadcast(n))
        .withColumn("contrib_micro",
          floor(col("tf") * log(col("n_docs") / col("df")) * lit(1000000d)))
        .groupBy(col("doc_id"))
        .agg(sum(col("contrib_micro")).as("score_micro"),
          count(lit(1)).as("n_terms_hit"), sum(col("tf")).as("total_tf"))
        .orderBy(col("score_micro").desc, col("doc_id"))
        .limit(10)
    }),

    // Language-ID confidence margin: top-score minus runner-up of the
    // marker scores, rolled up per predicted language — the calibration
    // read that says WHERE the q37 heuristic is guessing (margin 0 =
    // coin-flip). Integer scores end-to-end; one projection, one
    // map-side-combined rollup.
    "q174_lang_margin" -> ((s, d) => {
      val scoreCols = TextOps.LangMarkers.map { case (l, ws) =>
        TextOps.langScore(col("text"), ws).cast("long").as(s"s_$l") }
      val arr = array(TextOps.LangMarkers.map { case (l, _) =>
        col(s"s_$l") }: _*)
      t(s, d, "documents")
        .select(col("doc_id") +: TextOps.langId(col("text")).as("pred_lang") +:
          scoreCols: _*)
        .withColumn("ss", sort_array(arr, asc = false))
        .withColumn("margin",
          element_at(col("ss"), 1) - element_at(col("ss"), 2))
        .groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(margin) * 1000 div count(*)").as("mean_margin_milli"),
          sum(when(col("margin") === 0, 1L).otherwise(0L)).as("n_ambiguous"))
        .orderBy(col("pred_lang"))
    }),

    // Exact Spearman rank correlation WITHOUT ranking rows: both columns
    // live on tiny value domains (quantity 1-50, centi-discount 0-10), so
    // tie-averaged ranks come off the value histograms — doubled
    // (rank2 = 2·cum_lt + cnt + 1) to stay INTEGER — and broadcast back
    // as ≤51-row dims. Sums accumulate in DECIMAL(38,0) (exact at any
    // row count; plain longs overflow past ~1e12 rows), and the one
    // irrational step (sqrt) runs on the final scalars. Pearson on the
    // raw values rides along for contrast.
    "q175_spearman" -> ((s, d) => {
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
    }),

    // Mutual information between language and source — the corpus-design
    // read that says whether sources specialize by language (MI ≈ 0 =
    // independent mixing). All counts exact integers; the log's argument
    // is a ratio of exact integer products; ln and the weighted sum sit
    // under the terminal round(6). Marginal entropies ride along to
    // normalize against.
    "q176_mutual_info" -> ((s, d) => {
      // Marginals as WINDOWS over the cell table instead of the r12 shape
      // (three aggregates broadcast-joined back + three scalar crosses):
      // the cell table is bounded by |langs|×|sources| BY CONSTRUCTION, so
      // the unpartitioned total window's single task holds a dim-product
      // frame, never corpus rows — and the one-pass plan drops 5
      // broadcast-build jobs and a materialize from a query that is pure
      // fixed overhead (16 jobs for 0.2 s of work). Entropy terms count
      // each marginal once via a row_number==1 guard; the float sums stay
      // in the q108/q149 partition-order class, under the terminal
      // round(6) exactly as before.
      import org.apache.spark.sql.expressions.Window
      val wl = Window.partitionBy(col("lang"))
      val ws = Window.partitionBy(col("source"))
      val cells = t(s, d, "documents").groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
        .select(col("lang"), col("source"), col("n"),
          sum(col("n")).over(wl).as("nl"),
          sum(col("n")).over(ws).as("ns"),
          sum(col("n")).over(Window.partitionBy()).as("nn"),
          row_number().over(wl.orderBy(col("source"))).as("rl"),
          row_number().over(ws.orderBy(col("lang"))).as("rs"))
      cells.agg(sum(col("n")).cast("long").as("n_docs"),
        round(sum((col("n") / col("nn")) *
          log((col("n").cast("double") * col("nn")) /
            (col("nl").cast("double") * col("ns")))), 6).as("mi_nats"),
        round(-sum(when(col("rl") === 1,
          (col("nl") / col("nn")) * log(col("nl") / col("nn")))), 6)
          .as("h_lang"),
        round(-sum(when(col("rs") === 1,
          (col("ns") / col("nn")) * log(col("ns") / col("nn")))), 6)
          .as("h_source"))
    }),

    // Jackknife-over-sources standard error of the corpus mean quality —
    // the leave-one-group-out uncertainty a mixture designer attaches to
    // the headline number WITHOUT any resampling randomness: θ_i are
    // closed-form from per-group sums (a ~20-row frame), so the whole
    // estimator is two tiny aggregates over one corpus scan.
    "q177_jackknife_se" -> ((s, d) => {
      val g = mat(t(s, d, "documents")
        .select(col("source"), TextOps.qualityScoreMilli(col("text")).as("q"))
        .groupBy(col("source")).agg(sum(col("q")).as("sg"), count(lit(1)).as("m")))
      val tot = g.agg(sum(col("sg")).as("bigS"), sum(col("m")).as("bigN"),
        count(lit(1)).as("gcnt"))
      val theta = g.crossJoin(broadcast(tot))
        .select(col("gcnt"), col("bigS"), col("bigN"),
          ((col("bigS") - col("sg")) / (col("bigN") - col("m"))).as("theta"))
      theta.groupBy(col("gcnt"), col("bigS"), col("bigN"))
        .agg(avg(col("theta")).as("tbar"),
          sum(col("theta") * col("theta")).as("tsq"))
        .select(col("bigN").as("n_docs"), col("gcnt").as("n_sources"),
          expr("bigS div bigN").as("mean_q_milli"),
          round(sqrt(((col("gcnt") - 1) / col("gcnt").cast("double")) *
            (col("tsq") - col("gcnt") * col("tbar") * col("tbar"))), 6)
            .as("jk_se_milli"))
    }),

    // A/B test readout on a hash-stable user split (md5 parity — the
    // same engine-independent assignment the splits use): per-arm
    // conversion in integer ppm plus the pooled two-proportion z-score.
    // One conditional-max per user, then a 2-row rollup.
    "q178_ab_test" -> ((s, d) => {
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
    }),

    // Longest activity streaks — the gaps-and-islands shape: per-user
    // distinct active days minus their row_number collapse each
    // consecutive run onto one island date, islands aggregate to
    // (length, start), and the global top-20 rides
    // TakeOrderedAndProject. Windows stay per-user (bounded by the
    // calendar).
    "q179_streaks" -> ((s, d) => {
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
    }),

    // Exact-k-per-stratum deterministic sample: EXACTLY min(20, n) docs
    // per source, chosen by md5-draw order — the quota sampler q61's
    // fraction form can't guarantee. The literal k rides the
    // WindowGroupLimit partial rewrite (ScaleSpec-pinned), so the shuffle
    // carries ≤ k·partitions rows per group, never whole groups.
    "q180_exact_k_sample" -> ((s, d) => {
      val drawn = t(s, d, "documents").select(col("doc_id"), col("source"),
        functions.Draws.md5Draw(col("doc_id"), 1000000000L).as("draw"))
      operators.WindowOps.topKPerGroup(drawn, Seq(col("source")),
          Seq(col("draw"), col("doc_id")), 20)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("kept_ids_sum"),
          max(col("draw")).as("max_draw"))
        .orderBy(col("source"))
    }),

    // Near-dup explain panel: the top verified pairs with the metrics a
    // human triages on — Jaccard, containment (subset detection), length
    // ratio — all integer milli off the one capped pair core.
    "q181_pair_explain" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val len = docs.select(col("doc_id"), col("n_chars"))
      Dedup.pairOverlapCounts(
          Dedup.shinglePostings(docs, "doc_id", "text", 3),
          maxDocFreq = Some(100L))
        .withColumn("jm", expr("inter * 1000 div (n_a + n_b - inter)"))
        .where(col("jm") >= 300)
        .withColumn("containment_milli", expr("inter * 1000 div least(n_a, n_b)"))
        .join(len.select(col("doc_id").as("id_a"), col("n_chars").as("chars_a")),
          Seq("id_a"))
        .join(len.select(col("doc_id").as("id_b"), col("n_chars").as("chars_b")),
          Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("jm"), col("containment_milli"),
          expr("least(chars_a, chars_b) * 1000 div greatest(chars_a, chars_b)")
            .as("len_ratio_milli"))
        .orderBy(col("jm").desc, col("id_a"), col("id_b"))
        .limit(10)
    }),

    // Catalog row-count summary — the SHOW-TABLES-extended read over all
    // ten corpus tables: one count aggregate per table, unioned. Each
    // count is a column-pruned parquet scan (metadata-cheap).
    "q182_table_catalog" -> ((s, d) =>
      Tables.names.map { n =>
        t(s, d, n).agg(count(lit(1)).as("n_rows"))
          .select(lit(n).as("table_name"), col("n_rows"))
      }.reduce(_.unionByName(_)).orderBy(col("table_name"))),

    // Tukey-fence outlier counts per return flag: the 1.5·IQR rule on
    // centi-scaled prices with the quartiles off the value histogram
    // (q151's machinery) — fences and counts all exact integers, no
    // global sort at any scale.
    "q183_iqr_outliers" -> ((s, d) => {
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
    }),

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
    "q184_seasonal_decomposition" -> ((s, d) => {
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
    }),

    // Gini concentration WITHOUT sorting individuals: the rank-sum runs
    // over the count HISTOGRAM (2·Σrᵢxᵢ = Σ_v v·n_v·(2·cum_lt + n_v + 1)
    // — tie groups share consecutive ranks), so the only window is
    // histogram-sized. Exact integer arithmetic to the final floored
    // milli; emitted for both engagement (events per user) and corpus
    // mass (tokens per doc). Long sums hold to ~1e18 — the petabyte
    // upgrade is the same chain in DECIMAL(38,0).
    "q185_gini" -> ((s, d) => {
      def gini(perKey: DataFrame, label: String): DataFrame = {
        val h = perKey.groupBy(col("v")).agg(count(lit(1)).as("nv"))
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        h.withColumn("cum_lt", coalesce(sum(col("nv")).over(w), lit(0L)))
          .agg(sum(col("nv")).as("n"), sum(col("v") * col("nv")).as("t"),
            sum(col("v") * col("nv") * (col("cum_lt") * 2 + col("nv") + 1))
              .as("s2"))
          .select(lit(label).as("dimension"), col("n").as("n_units"),
            col("t").as("total"),
            expr("((s2 - (n + 1) * t) * 1000) div (n * t)").as("gini_milli"))
      }
      val users = t(s, d, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("v")).select(col("v"))
      val docs = t(s, d, "documents")
        .select(TextOps.tokenCount(col("text")).cast("long").as("v"))
      gini(users, "events_per_user").unionByName(gini(docs, "tokens_per_doc"))
        .orderBy(col("dimension"))
    }),

    // Quality-vs-volume tradeoff curve: docs and tokens surviving each
    // candidate quality cutoff — the chart a curator reads to PICK the
    // gate before running it. One corpus scan collapses to the quality
    // histogram (with token mass), then an 11-row threshold spine
    // cross-joins the ≤1001-row histogram — sweep cost is independent of
    // corpus size.
    "q186_quality_volume_curve" -> ((s, d) => {
      val h = mat(t(s, d, "documents")
        .select(TextOps.qualityScoreMilli(col("text")).as("q"),
          TextOps.tokenCount(col("text")).cast("long").as("toks"))
        .groupBy(col("q"))
        .agg(count(lit(1)).as("nd"), sum(col("toks")).as("nt")))
      val tot = h.agg(sum(col("nd")).as("td"), sum(col("nt")).as("tt"))
      val spine = s.range(0, 11).select((col("id") * 100).as("threshold"))
      spine.crossJoin(h).crossJoin(broadcast(tot))
        .groupBy(col("threshold"))
        .agg(sum(when(col("q") >= col("threshold"), col("nd")).otherwise(0L))
            .as("n_docs_kept"),
          sum(when(col("q") >= col("threshold"), col("nt")).otherwise(0L))
            .as("n_tokens_kept"),
          expr("sum(CASE WHEN q >= threshold THEN nt ELSE 0 END) * 1000000" +
            " div min(tt)").as("token_share_ppm"))
        .orderBy(col("threshold"))
    }),

    // Effort-to-convert distribution: events a user generates STRICTLY
    // before their first purchase — one conditional-min + conditional-sum
    // aggregate per user (no window, no self-join), quartiles off the
    // bounded count histogram.
    "q187_events_to_convert" -> ((s, d) => {
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
    }),

    // Brand price realization: achieved per-unit revenue vs the part's
    // list price, in exact integer ppm — the margin read over the part
    // dim. Revenue and quantity pre-aggregate per part BEFORE the
    // broadcast dim join; one fact pass.
    "q188_brand_margin" -> ((s, d) => {
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
    }),

    // Vocabulary-band composition per source: what share of each
    // source's token mass is head (global top-100 tokens), tail
    // (occurring ≤2 times corpus-wide), or mid — the lexical-register
    // read behind tokenizer and filter design. The head list is a
    // TakeOrdered(100) broadcast; the occurrence counts join back keyed
    // by token (vocab-bounded, the postings shape).
    "q189_vocab_bands" -> ((s, d) => {
      val tk = t(s, d, "documents")
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
      val counts = mat(tk.groupBy(col("w")).agg(count(lit(1)).as("cnt")))
      val head = counts.orderBy(col("cnt").desc, col("w")).limit(100)
        .select(col("w"), lit(1).as("is_head"))
      tk.join(counts, Seq("w")).join(broadcast(head), Seq("w"), "left")
        .withColumn("band", when(col("is_head").isNotNull, "head")
          .when(col("cnt") <= 2, "tail").otherwise("mid"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          expr("sum(CASE WHEN band = 'head' THEN 1 ELSE 0 END) * 1000000" +
            " div count(*)").as("head_ppm"),
          expr("sum(CASE WHEN band = 'mid' THEN 1 ELSE 0 END) * 1000000" +
            " div count(*)").as("mid_ppm"),
          expr("sum(CASE WHEN band = 'tail' THEN 1 ELSE 0 END) * 1000000" +
            " div count(*)").as("tail_ppm"))
        .orderBy(col("source"))
    }),

    // Data-quality rule engine outcome: the assertion table a pipeline
    // gate reads — value ranges, empty payloads, cross-table referential
    // integrity (orphan orders, ship-before-order) — one count per rule,
    // each rule its own pushed-down scan or keyed join.
    "q190_dq_rules" -> ((s, d) => {
      val ev = t(s, d, "events")
      val li = t(s, d, "lineitem")
      val ord = t(s, d, "orders")
      def rule(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_violations"))
          .select(lit(name).as("rule_name"), col("n_violations"))
      Seq(
        rule("documents_empty_text",
          t(s, d, "documents").where(length(trim(col("text"))) === 0)),
        rule("events_nonpositive_value", ev.where(col("value") <= 0)),
        rule("events_null_props", ev.where(col("props").isNull)),
        rule("lineitem_discount_range",
          li.where(col("l_discount") < 0 || col("l_discount") > 0.5)),
        rule("lineitem_ship_before_order",
          li.join(ord, col("l_orderkey") === col("o_orderkey"))
            .where(col("l_shipdate") < col("o_orderdate"))),
        rule("orders_orphan_customer",
          ord.join(t(s, d, "customer"),
            col("o_custkey") === col("c_custkey"), "left_anti"))
      ).reduce(_.unionByName(_)).orderBy(col("rule_name"))
    }),

    // ANN recall@k sweep (k = 1, 5, 10): the eval grid behind choosing
    // the LSH working point — one exact truth ranking and one LSH
    // ranking, joined once, with the three cutoffs read off conditional
    // sums (no per-k recomputation).
    "q191_recall_at_k" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val qs = emb.where(col("vec_id") < 20)
      val exact = Ann.bruteForceTopK(qs, emb, "vec_id", "embedding", 10)
        .select(col("query_id"), col("corpus_id"), col("rank").as("re"))
      val approx = Ann.lshTopK(qs, emb, "vec_id", "embedding",
          k = 10, numPlanes = 6, dim = 64, multiProbe = 1)
        .select(col("query_id"), col("corpus_id"), col("rank").as("ra"))
      exact.join(approx, Seq("query_id", "corpus_id"), "left")
        .agg(countDistinct(col("query_id")).as("nq"),
          sum(when(col("re") <= 1 && col("ra") <= 1, 1L).otherwise(0L)).as("h1"),
          sum(when(col("re") <= 5 && col("ra") <= 5, 1L).otherwise(0L)).as("h5"),
          sum(when(col("re") <= 10 && col("ra") <= 10, 1L).otherwise(0L))
            .as("h10"))
        .select(expr("stack(3, 1, h1, 5, h5, 10, h10) AS (k, n_hit)"), col("nq"))
        .select(col("k"), (col("k") * col("nq")).as("n_true"), col("n_hit"),
          expr("n_hit * 1000 div (k * nq)").as("recall_milli"))
        .orderBy(col("k"))
    }),

    // Revenue by global price quartile band: q151's histogram cuts become
    // a broadcast 1-row dim and every line item labels itself with pure
    // column logic — the banded reporting read, no sort anywhere.
    "q192_price_band_revenue" -> ((s, d) => {
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
    }),

    // Dual-feed reconciliation — the fintech "do both vendors agree"
    // report: events hash-split into two feeds, per-minute per-type means
    // in EXACT integer milli-of-centi for each feed (one conditional
    // aggregate, no pivot), then the per-type agreement rollup: minutes
    // covered by both, mean and max absolute divergence.
    "q193_feed_reconciliation" -> ((s, d) => {
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
    }),

    // Out-of-order ingestion audit — the measurement that SIZES a
    // streaming watermark: within each user's arrival order (event_id),
    // how often does event time regress, and by how much? One per-user
    // running-max window (bounded series), one global rollup.
    "q194_ooo_audit" -> ((s, d) => {
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
    }),

    // Largest-remainder (Hamilton) apportionment of a fixed 1000-slot
    // budget across sources — the EXACT integer allocation a mixture
    // planner needs where proportional floors leave slots on the table:
    // floor shares first, then the leftover slots go to the largest
    // remainders (source-name tiebreak). The only window ranks the
    // ~20-row share frame. Σ total_slots = 1000 exactly, by construction.
    "q195_apportionment" -> ((s, d) => {
      val shares = t(s, d, "documents").groupBy(col("source"))
        .agg(count(lit(1)).as("n"))
      val tot = shares.agg(sum(col("n")).as("t"))
      val base = shares.crossJoin(broadcast(tot))
        .withColumn("base_slots", expr("n * 1000 div t"))
        .withColumn("rem", expr("n * 1000 - (n * 1000 div t) * t"))
      val leftover = base.agg((lit(1000L) - sum(col("base_slots"))).as("r"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("rem").desc, col("source"))
      base.crossJoin(broadcast(leftover))
        .withColumn("rk", row_number().over(w))
        .withColumn("extra_slot", when(col("rk") <= col("r"), 1L).otherwise(0L))
        .select(col("source"), col("n").as("n_docs"), col("base_slots"),
          col("extra_slot"),
          (col("base_slots") + col("extra_slot")).as("total_slots"))
        .orderBy(col("source"))
    }),

    // First-week retention bitmaps: each user's active days 0-6 relative
    // to their own first day packed into one integer mask — the
    // compressed retention triangle; patterns histogram with exact
    // bit_count. Distinct (user, day) pairs, one keyed rejoin for the
    // per-user epoch, integer bit math end-to-end.
    "q196_retention_bitmap" -> ((s, d) => {
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
    }),

    // HLL++ error-bound gate for q55's scale path
    // (AggOps.approxDistinctCounts): the approximate count rides next to
    // the exact one and the oracle-compared output is the exact count plus
    // the bound VERDICT (|approx − exact| ≤ 3·rsd·exact, as 0/1). The
    // verdict is deterministic cross-run — HLL++ register merges are
    // max(), so the estimate is partition-order-free — and the estimate
    // itself stays out of the compare (DuckDB's approx sketch differs).
    // The exact side is the real aggregation cost; the sketch side is the
    // one-pass O(1/rsd²)-bytes-per-group scale path being certified.
    "q197_hll_bound" -> ((s, d) => {
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
    }),

    // Oracle gate for the CMS absent-probe contract (the round-10
    // Sketches.cmsEstimate fix): probes are the exact top-10 tokens plus
    // five literal never-seen tokens, against a SPARSE sketch (width 2^17
    // ≫ vocab) so an absent probe's cells are overwhelmingly untouched
    // and the count==depth guard's 0 path actually executes. The oracle
    // rebuilds the identical md5 sketch with the identical guard, so
    // present-key estimates (≥ exact) and absent-key zeros compare
    // cell-for-cell whatever the corpus density makes them.
    "q198_cms_absent_probes" -> ((s, d) => {
      val counts = mat(t(s, d, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt")))
      val cms = Sketches.cmsTable(counts, "tok", "cnt",
        depth = 4, width = 1 << 17)
      val present = counts.orderBy(col("cnt").desc, col("tok")).limit(10)
        .select(col("tok"))
      val absent = counts.sparkSession.range(1, 6)
        .select(concat(lit("__never_seen_token_"), col("id")).as("tok"))
      Sketches.cmsEstimate(cms, present.unionByName(absent), "tok",
          depth = 4, width = 1 << 17)
        .orderBy(col("tok"))
    }),

    // Multimodal resize arithmetic oracled (previously spec-only): the
    // q48 byte-length meta run through the exact integer aspect-fit —
    // ceil-division scale factor, floor-divided dims — mirrored in SQL.
    "q199_resize_meta" -> ((s, d) =>
      Multimodal.resizeMetaTo(
          Multimodal.fakeMetaColumns(
            Multimodal.withPayload(t(s, d, "documents"), "text")), 256)
        .select(col("doc_id"), col("width"), col("height"),
          col("resized_width"), col("resized_height"))
        .orderBy(col("doc_id"))),

    // Frame-index sampling oracled (previously spec-only): stride-4
    // indexes over a deterministic per-doc frame count, INCLUDING the
    // zero-frame guard path (byte_len % 16 == 0 docs must vanish, not
    // throw on sequence(0, -1)). Summarized per doc so the oracle checks
    // both the explode fan-out and the index arithmetic.
    "q200_frame_sample" -> ((s, d) => {
      val clips = Multimodal.withPayload(t(s, d, "documents"), "text")
        .withColumn("n_frames", (col("byte_len") % 16).cast("int"))
      Multimodal.sampleFrameIndexes(clips, "n_frames", stride = 4)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sampled"),
          max(col("frame_idx")).as("last_idx"))
        .orderBy(col("doc_id"))
    }),

    // Cross-SOURCE contamination matrix: distinct shared 3-gram shingles
    // per source pair — the corpus-level reading of the doc-level overlap
    // family (which feeds copy from each other / share boilerplate).
    // Shingles present in more than 15 sources are ubiquitous stop-grams,
    // dropped BEFORE any pair forms by Dedup.boundedPairCounts' size-capped
    // aggregate (the buffer itself poisons at cap+1 — no unbounded collect)
    // — this query is also that one-shuffle pair core's oracle gate: each
    // surviving shingle emits its ≤ C(15,2) source pairs in place (no
    // inverted-index self-join, no anti-join). Counts compare
    // hash-agnostic (the q42-family tolerance: xxhash64 postings
    // engine-side, raw shingle strings oracle-side).
    "q201_source_overlap" -> ((s, d) => {
      // The id space is the SOURCE dimension — a handful of values known
      // up front (one pruned-column scan collects the tiny dim, the
      // Analyze symbol-dim precedent) — so the pair core is the bitmask
      // variant: the corpus exchange carries 8-byte masks instead of
      // posting arrays and pair emission runs over the mask histogram.
      // No upstream .distinct(): the bit_or dedupes (id, key) for free.
      // NOTE: collecting the dim runs a (tiny, pruned-column) driver job
      // at query-CONSTRUCTION time — visible even in plan-only Explain
      // sessions. That is the price of choosing the pair core by measured
      // cardinality rather than by taste; the scan reads one column of a
      // dictionary-encoded dim.
      val sources = t(s, d, "documents").select(col("source"))
        .distinct().collect().map(_.getString(0)).toSeq
      // (The spread guard lives inside shinglePostings since the sf1
      // starvation fix — a second call-site Spread here would just stack
      // an extra exchange on the same tiny input.)
      val p = Dedup.shinglePostings(t(s, d, "documents"), "source", "text", 3)
      // Regime dispatch, not a hard require: past 63 sources the long mask
      // can't hold the id space, so fall back to the generic bounded-
      // buffer pair core (identical output contract) instead of throwing
      // at a larger scale factor's wider dim.
      val pairs =
        if (sources.nonEmpty && sources.size <= 63)
          Dedup.pairCountsByBitmask(p, "shh", "id", sources, maxDocFreq = 15L)
        else Dedup.boundedPairCounts(p, "shh", "id", maxDocFreq = 15L)
      pairs
        .select(col("id_a").as("source_a"), col("id_b").as("source_b"),
          col("n_shared"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // Boilerplate-prefix clusters: docs grouped by their EXACT first-8-token
    // prefix (scraped nav headers, template openers) — the cheap high-
    // precision sibling of winnowed overlap for leading boilerplate. One
    // map-side-combined aggregate over a scan-local prefix projection; the
    // prefix string never leaves the aggregate (clusters report min doc_id
    // as representative), so the shuffle rows stay small.
    "q202_prefix_clusters" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("__tk"))
        .where(size(col("__tk")) >= 8)
        .select(col("doc_id"), array_join(slice(col("__tk"), 1, 8), " ").as("pfx"))
        .groupBy(col("pfx"))
        .agg(min(col("doc_id")).as("rep_doc"), count(lit(1)).as("n_docs"))
        .where(col("n_docs") >= 2)
        .select(col("rep_doc"), col("n_docs"))
        .orderBy(col("rep_doc"))),

    // Quality-calibration divergence: the (global decile × within-source
    // decile) contingency matrix — the Simpson's-paradox reading of the
    // quality score (a source whose docs are globally weak but locally
    // top-decile is mis-calibrated, not good). The output needs only
    // COUNTS per decile cell, so the corpus never joins back at all: ONE
    // expensive-scoring scan collapses to the (source, value) histogram,
    // both decile assignments derive from windows OVER THE HISTOGRAM
    // (global cum from the per-source cum summed across sources), and the
    // cell counts are a histogram-sized rollup. Ties share a bucket —
    // value-deterministic cross-engine, same formula as Calibrate.
    "q203_decile_divergence" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val hist = t(s, d, "documents")
        .select(col("source"),
          TextOps.qualityScoreMilli(col("text")).as("quality_milli"))
        .groupBy(col("source"), col("quality_milli"))
        .agg(count(lit(1)).as("__n"))
      val wS = Window.partitionBy(col("source")).orderBy(col("quality_milli"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val perSrc = hist
        .withColumn("__s_lt", coalesce(sum(col("__n")).over(wS), lit(0L)))
        .withColumn("__n_src",
          sum(col("__n")).over(Window.partitionBy(col("source"))))
      // Global strictly-below counts from the value-level rollup of the
      // SAME histogram (≤ |scale| rows; the unpartitioned window is
      // histogram-sized by construction, never corpus-sized).
      val gh = hist.groupBy(col("quality_milli")).agg(sum(col("__n")).as("__gn"))
      val wG = Window.orderBy(col("quality_milli"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val globalDim = gh
        .withColumn("__g_lt", coalesce(sum(col("__gn")).over(wG), lit(0L)))
        .withColumn("__n_all", sum(col("__gn")).over())
        .select(col("quality_milli"),
          least(lit(9L), expr("(10L * __g_lt) div __n_all")).as("g_decile"))
      perSrc
        .withColumn("s_decile",
          least(lit(9L), expr("(10L * __s_lt) div __n_src")))
        .join(broadcast(globalDim), Seq("quality_milli"))
        .groupBy(col("g_decile"), col("s_decile"))
        .agg(sum(col("__n")).cast("long").as("n_docs"))
        .orderBy(col("g_decile"), col("s_decile"))
    })
  )

  // ------------------------------------------------------------- oracle SQL

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

  /** DuckDB occurrence count of ` w ` in ` lower(text) ` — mirrors
    * TextOps.wordOccurrences exactly (same replace/length arithmetic). */
  private def occSql(w: String, textCol: String = "text"): String = {
    val pat = s" $w "
    s"(length(' '||lower($textCol)||' ') - length(replace(' '||lower($textCol)||' ', '$pat', ''))) / ${pat.length}"
  }

  private def langScoreSql(words: Seq[String], textCol: String = "text"): String =
    words.map(occSql(_, textCol)).mkString("(", " + ", ")")

  /** Shared DuckDB CTE mirroring [[TextOps.qualityScoreMilli]] (integer
    * arithmetic only — see that Scaladoc for why no floats): yields
    * `q(doc_id, quality_milli)`. Used by q38 and q78. */
  private def qualityMilliCte: String = {
    val stop = langScoreSql(Seq("the", "a", "of", "and", "is"))
    """f AS (SELECT doc_id,
         CAST(length(text) AS BIGINT) AS nc,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nt,
         CAST(STOP AS BIGINT) AS stop,
         CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS BIGINT) AS pu
       FROM documents),
       q AS (SELECT doc_id,
         (400 * least(nc, 500)) // 500
         + (300 * least(stop * 5, nt)) // nt
         + 300 - (300 * least(pu * 10, nc)) // nc AS quality_milli
       FROM f)""".replace("STOP", stop)
  }

  private def langIdSql: String = {
    val scores = TextOps.LangMarkers.map { case (l, ws) => l -> s"s_$l" }
    val scoreDefs = TextOps.LangMarkers.map { case (l, ws) =>
      s"${langScoreSql(ws)} AS s_$l" }.mkString(", ")
    val mx = scores.map(_._2).mkString("greatest(", ", ", ")")
    val pred = scores.map { case (l, s) => s"WHEN $s = $mx THEN '$l'" }
      .mkString("CASE ", " ", " END")
    s"""WITH sc AS (SELECT doc_id, lang, $scoreDefs FROM documents)
       SELECT doc_id, lang, $pred AS pred_lang, CAST(s_en AS BIGINT) AS score_en
       FROM sc ORDER BY doc_id"""
  }

  /** Shared DuckDB CTE: distinct 3-gram shingles per doc + exploded view. */
  private val shinglesCte =
    """sh AS (SELECT doc_id AS id,
         list_distinct(list_transform(range(1, greatest(len(string_split_regex(trim(text), '\s+')) - 2, 0) + 1),
           i -> array_to_string(list_slice(string_split_regex(trim(text), '\s+'), i, i + 2), ' '))) AS sh_arr
       FROM documents),
       e AS (SELECT id, len(sh_arr) AS n_sh, unnest(sh_arr) AS sh FROM sh)"""

  /** Oracle side of the contamination overlap joins on the RAW shingle
    * string: the engine hot path hashes to xxhash64 (8-byte shuffle rows),
    * but the compared quantity is the distinct-overlap COUNT, which is
    * hash-agnostic — so the oracle avoids any truncated-hash collision
    * noise by not hashing at all. */
  private val contShingleHashSql = "sh"

  /** Word 2-gram list of `toks` — mirrors TextOps.repetitionStats(n=2)
    * (list_slice ends are inclusive in DuckDB: [i, i+1] = 2 tokens). */
  private val twoGramListSql =
    """list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
       i -> array_to_string(list_slice(toks, i, i + 1), ' '))"""

  /** q69 oracle: the composed curation filter — exact-dedup keeper,
    * non-benchmark, uncontaminated (q66's mirror), quality ≥ 600‰ (q38's
    * mirror), duplicate-2-gram fraction ≤ 100‰ (q67's mirror). */
  private def curationSql: String = {
    val stop = langScoreSql(Seq("the", "a", "of", "and", "is"))
    s"""WITH $shinglesCte,
       te AS (SELECT DISTINCT $contShingleHashSql AS shh FROM e WHERE id % 50 = 0),
       tr AS (SELECT id, $contShingleHashSql AS shh FROM e WHERE id % 50 <> 0),
       cont AS (SELECT id FROM tr JOIN te USING (shh)
                GROUP BY id HAVING count(*) >= 3),
       keeper AS (SELECT doc_id FROM (
           SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           FROM documents) WHERE rn = 1),
       f AS (SELECT doc_id,
           CAST(length(text) AS BIGINT) AS nc,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS nt,
           CAST($stop AS BIGINT) AS stop,
           CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS pu
         FROM documents),
       q AS (SELECT doc_id,
           (400 * least(nc, 500)) // 500
           + (300 * least(stop * 5, nt)) // nt
           + 300 - (300 * least(pu * 10, nc)) // nc AS quality_milli
         FROM f),
       tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
              FROM documents),
       rp AS (SELECT doc_id,
           CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS t2,
           CAST(len(list_distinct($twoGramListSql)) AS BIGINT) AS d2
         FROM tk),
       rm AS (SELECT doc_id,
           CASE WHEN t2 > 0 THEN (t2 - d2) * 1000 // t2
                ELSE CAST(0 AS BIGINT) END AS rep_2gram_milli
         FROM rp)
       SELECT d.doc_id, q.quality_milli, rm.rep_2gram_milli
       FROM documents d
       JOIN keeper USING (doc_id) JOIN q USING (doc_id) JOIN rm USING (doc_id)
       WHERE d.doc_id % 50 <> 0 AND d.doc_id NOT IN (SELECT id FROM cont)
         AND q.quality_milli >= 600 AND rm.rep_2gram_milli <= 100
       ORDER BY doc_id"""
  }

  /** The MinHash banding CTE list (through `mbands`) — mirrors
    * Dedup.minhashSlotHash (slots 0-3 from md5(sh), 4-7 from md5('1:'||sh),
    * 8-hex-char chunks) — shared by the q43 pair query and the q70
    * component resolution. */
  private def minhashCtes: String = {
    def slot(s: Int): String = {
      val digest = if (s < 4) "md5(sh)" else s"md5('${s / 4}:' || sh)"
      s"CAST('0x' || substring($digest, ${(s % 4) * 8 + 1}, 8) AS BIGINT)"
    }
    val sigCols = (0 until 8).map(s => s"min(${slot(s)}) AS mh$s").mkString(", ")
    val bandSelects = (0 until 4).map { b =>
      val bv = (0 until 2).map(r => s"CAST(mh${b * 2 + r} AS VARCHAR)").mkString(" || '_' || ")
      s"SELECT id, $b AS bi, $bv AS bv FROM sig"
    }.mkString(" UNION ALL ")
    s"""$shinglesCte,
       sig AS (SELECT id, $sigCols FROM e GROUP BY id),
       mbands AS ($bandSelects)"""
  }

  /** q146 oracle: three unrolled PageRank rounds over the band candidate
    * graph — the same floored integer-ppm arithmetic as
    * [[graft.operators.Graph.pageRankPpm]] (r // deg contributions,
    * (inflow·85) // 100 damping, 150000 // N teleport), so every rank is
    * bit-identical. */
  private def pageRankSql: String = {
    val rounds = (1 to 3).map { k =>
      s"""i$k AS (SELECT s.dst AS id, CAST(sum(r.r // s.deg) AS BIGINT) AS inflow
            FROM symdeg s JOIN r${k - 1} r ON r.id = s.src GROUP BY 1),
          r$k AS (SELECT d.doc_id AS id,
              CAST(150000 // nn.n + coalesce(i.inflow, 0) * 85 // 100 AS BIGINT) AS r
            FROM documents d CROSS JOIN nn LEFT JOIN i$k i ON i.id = d.doc_id)"""
    }.mkString(",\n")
    s"""WITH $minhashCtes,
       cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                FROM mbands a JOIN mbands b
                  ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id),
       sym AS (SELECT id_a AS src, id_b AS dst FROM cand
               UNION SELECT id_b, id_a FROM cand),
       deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
       symdeg AS (SELECT s.src, s.dst, d.deg FROM sym s JOIN deg d USING (src)),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       r0 AS (SELECT doc_id AS id, CAST(1000000 // nn.n AS BIGINT) AS r
              FROM documents CROSS JOIN nn),
       $rounds
       SELECT id AS doc_id, r AS rank_ppm FROM r3
       ORDER BY rank_ppm DESC, doc_id LIMIT 20"""
  }

  /** q170 oracle: the same 5 greedy max-coverage rounds unrolled as CTEs
    * over the RAW shingle postings (gain/coverage counts are
    * hash-agnostic — the q42-family collision tolerance). */
  private def greedyCoverSql: String = {
    val rounds = (1 to 5).map { r =>
      val src =
        if (r == 1) "ed"
        else s"(SELECT * FROM ed WHERE sh NOT IN (SELECT sh FROM cov${r - 1}))"
      val covBody =
        if (r == 1) "SELECT DISTINCT e2.sh FROM ed e2 JOIN p1 ON e2.id = p1.id"
        else s"SELECT sh FROM cov${r - 1} " +
          s"UNION SELECT e2.sh FROM ed e2 JOIN p$r ON e2.id = p$r.id"
      s"""g$r AS (SELECT id, count(*) AS g FROM $src t$r GROUP BY 1),
          p$r AS (SELECT id, g FROM g$r ORDER BY g DESC, id LIMIT 1),
          cov$r AS ($covBody)"""
    }.mkString(",\n")
    val sel = (1 to 5).map { r =>
      s"""SELECT $r AS round, p$r.id AS doc_id, CAST(p$r.g AS BIGINT) AS gain,
         (SELECT CAST(count(*) AS BIGINT) FROM cov$r) AS covered_cum
         FROM p$r"""
    }.mkString(" UNION ALL ")
    s"""WITH $shinglesCte,
       ed AS (SELECT id, sh FROM e),
       $rounds
       $sel ORDER BY round"""
  }

  private def minhashSql: String =
    s"""WITH $minhashCtes
       SELECT DISTINCT a.id AS id_a, b.id AS id_b
       FROM mbands a JOIN mbands b ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id
       ORDER BY id_a, id_b"""

  /** q70 oracle: MinHash star edges (min id per band bucket) → recursive
    * min-label reachability — the same component construction as q65's
    * oracle, over the MinHash candidate graph. */
  /** Shared CTE chain (q70, q84): minhash banding → star edges → recursive
    * reachability → `comp(doc_id, comp)`. */
  private def minhashCompCtes: String =
    s"""$minhashCtes,
       pr AS (SELECT DISTINCT min(id) OVER (PARTITION BY bi, bv) AS id_a, id AS id_b
              FROM mbands),
       edges AS (SELECT id_a AS src, id_b AS dst FROM pr WHERE id_a <> id_b
                 UNION SELECT id_b, id_a FROM pr WHERE id_a <> id_b),
       walk(id, lbl) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id),
       comp AS (SELECT id AS doc_id, min(lbl) AS comp FROM walk GROUP BY id)"""

  private def minhashComponentsSql: String =
    s"""WITH RECURSIVE $minhashCompCtes
       SELECT doc_id, comp, count(*) OVER (PARTITION BY comp) AS comp_size
       FROM comp ORDER BY doc_id"""

  /** DuckDB byte list of a string's UTF-8 encoding, via hex(encode(..)) —
    * 2 hex chars per byte, parsed through the '0x' cast (HUGEINT has no
    * direct hex-literal cast, so go via BIGINT). */
  private def byteListSql(strExpr: String): String =
    s"""list_transform(range(1, length(hex(encode($strExpr)))//2 + 1),
       i -> CAST(CAST('0x' || substring(hex(encode($strExpr)), 2*i-1, 2) AS BIGINT) AS HUGEINT))"""

  /** Mirrors Hashing.rollingHash: polynomial hash mod 2^61−1 over UTF-8
    * bytes, exact in HUGEINT (h < 2^61, h*1000003 + 255 < 2^81 « 2^127). */
  private def rollingHashSql: String =
    s"""SELECT doc_id,
       CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), ${byteListSql("text")}),
         (acc, b) -> (acc * 1000003 + b) % 2305843009213693951) AS BIGINT) AS rhash
       FROM documents ORDER BY doc_id"""

  /** Mirrors Expressions.SimHash64 + Dedup.simhashCandidates: FNV-1a 64 per
    * token (HUGEINT mod-2^64 arithmetic), per-bit ±1 majority, 4×16-bit band
    * join, Hamming ≤ 3 on candidates (= bands − 1, the pigeonhole recall
    * contract). The unsigned HUGEINT simhash and Spark's signed long agree
    * on every band/xor/bit_count operation. */
  /** The simhash banding CTE list (through `bands`), shared by the q44 pair
    * query (all-pairs + Hamming filter) and the q65 component resolution
    * (star edges per band bucket). */
  private def simhashCtes: String = {
    val fnv =
      s"""list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), ${byteListSql("tok")}),
         (acc, b) -> (xor(acc, b) * 1099511628211) % 18446744073709551616)"""
    val bitsum = (0 until 64).map(b =>
      s"CASE WHEN sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0 " +
        s"THEN CAST(1 AS HUGEINT) << $b ELSE CAST(0 AS HUGEINT) END").mkString(" + ")
    val bandSelects = (0 until 4).map(b =>
      s"SELECT id, $b AS bi, (sim >> ${b * 16}) & 65535 AS bv FROM sim")
      .mkString(" UNION ALL ")
    s"""toks AS (SELECT doc_id AS id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
           FROM documents),
       th AS (SELECT id, $fnv AS h FROM toks),
       sim AS (SELECT id, $bitsum AS sim FROM th GROUP BY id),
       bands AS ($bandSelects)"""
  }

  private def simhashSql: String =
    s"""WITH $simhashCtes,
       cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id),
       hd AS (SELECT c.id_a, c.id_b,
                CAST(bit_count(xor(sa.sim, sb.sim)) AS INTEGER) AS hamming
              FROM cand c JOIN sim sa ON sa.id = c.id_a JOIN sim sb ON sb.id = c.id_b)
       SELECT id_a, id_b, hamming FROM hd WHERE hamming <= 3 ORDER BY id_a, id_b"""

  /** q65 oracle: Hamming-VERIFIED pair edges (two docs sharing ≥1 simhash
    * band AND within Hamming 3 — q44's candidate construction) → undirected
    * edges → connected components by recursive min-label reachability (walk
    * collects every label reachable from a node; min = component id), then
    * a size window. Mirrors Dedup.simhashVerifiedEdgesFromHashes +
    * Graph.connectedComponents: the engine's identical-hash collapse +
    * representative pairs have the same transitive closure as this full
    * verified pair graph, so the components agree. */
  private def dedupComponentsSql: String =
    s"""WITH RECURSIVE $simhashCtes,
       cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id),
       pr AS (SELECT c.id_a, c.id_b
              FROM cand c JOIN sim sa ON sa.id = c.id_a JOIN sim sb ON sb.id = c.id_b
              WHERE CAST(bit_count(xor(sa.sim, sb.sim)) AS INTEGER) <= 3),
       edges AS (SELECT id_a AS src, id_b AS dst FROM pr
                 UNION SELECT id_b, id_a FROM pr),
       walk(id, lbl) AS (
         SELECT doc_id, doc_id FROM documents
         UNION
         SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id),
       comp AS (SELECT id AS doc_id, min(lbl) AS comp FROM walk GROUP BY id)
       SELECT doc_id, comp, count(*) OVER (PARTITION BY comp) AS comp_size
       FROM comp ORDER BY doc_id"""

  /** q71 oracle: mirrors Dedup.embeddingLshPairs(numPlanes=6, dim=64,
    * minSim=0.3) — the same hyperplane-sign bucket construction as
    * [[annLshSql]], self-joined on the bucket with exact cosine rerank. */
  private def embLshSql: String = {
    val planes = graft.similarity.Ann.hyperplanes(6, 64)
    def dot(p: Array[Double]): String =
      p.zipWithIndex.map { case (s, d) =>
        s"vec[${d + 1}] * (${if (s > 0) "1.0" else "-1.0"})" }.mkString(" + ")
    val sigExpr = planes.zipWithIndex.map { case (pl, p) =>
      s"(CASE WHEN ${dot(pl)} >= 0 THEN ${1L << p} ELSE 0 END)" }.mkString(" + ")
    s"""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       n AS (SELECT vec_id, vec, norm, CAST($sigExpr AS BIGINT) AS bucket FROM
               (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm
                FROM p) WHERE norm > 0),
       pr AS (SELECT a.bucket, a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_dot_product(a.vec, b.vec) / (a.norm * b.norm), 6) AS cosine
              FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       SELECT bucket, id_a, id_b, cosine FROM pr WHERE cosine >= 0.3
       ORDER BY id_a, id_b"""
  }

  /** Mirrors Ann.lshTopK(numPlanes=6, dim=64, multiProbe=1, k=10): the ±1
    * hyperplane signs come from the same md5-parity construction (embedded
    * here as literals via Ann.hyperplanes), the signature dot products sum
    * in the same left-to-right IEEE order, query buckets probe Hamming
    * radius 1 (sig XOR {0, 1<<p}). */
  /** q59/q107 shared CTE chain: deterministic stride centroids + nearest-
    * centroid cell assignment, mirroring `Ann.clusterAssign(nlist = 16)` —
    * yields `corp(vec_id, cell)`. */
  private val clusterCellsCte =
    """p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM p),
       cnt AS (SELECT count(*) AS c FROM n),
       cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                  vec AS cvec, norm AS cnorm
                FROM n WHERE vec_id % greatest(1, (SELECT c FROM cnt) // 16) = 0
                ORDER BY vec_id LIMIT 16),
       ranked AS (SELECT v.vec_id, c.cid,
                    row_number() OVER (PARTITION BY v.vec_id
                      ORDER BY list_dot_product(v.vec, c.cvec) / c.cnorm DESC, c.cid DESC) AS cr
                  FROM n v CROSS JOIN cent c),
       corp AS (SELECT vec_id, cid AS cell FROM ranked WHERE cr = 1)"""

  /** md5-parity hyperplane signature + multiprobe-offset literals shared by
    * the LSH oracle mirrors ([[annLshSql]], [[annRecallSql]]). */
  private lazy val annSigExpr: String = {
    val planes = graft.similarity.Ann.hyperplanes(6, 64)
    def dot(p: Array[Double]): String =
      p.zipWithIndex.map { case (s, d) =>
        s"vec[${d + 1}] * (${if (s > 0) "1.0" else "-1.0"})" }.mkString(" + ")
    planes.zipWithIndex.map { case (pl, p) =>
      s"(CASE WHEN ${dot(pl)} >= 0 THEN ${1L << p} ELSE 0 END)" }.mkString(" + ")
  }
  private lazy val annProbes: String =
    (0L +: (0 until 6).map(p => 1L << p)).mkString("[", ", ", "]")

  private def annLshSql: String = {
    val sigExpr = annSigExpr
    val probes = annProbes
    s"""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm, $sigExpr AS sig
             FROM p),
       q AS (SELECT vec_id, vec, norm,
               unnest(list_transform($probes, o -> xor(sig, CAST(o AS BIGINT)))) AS bucket
             FROM n WHERE vec_id < 20),
       sims AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id,
                  round(list_dot_product(q.vec, c.vec) / (q.norm * c.norm), 6) AS cosine
                FROM n c JOIN q ON c.sig = q.bucket
                WHERE q.vec_id <> c.vec_id),
       r AS (SELECT query_id, corpus_id, cosine,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, corpus_id) AS "rank" FROM sims)
       SELECT query_id, corpus_id, cosine, "rank" FROM r WHERE "rank" <= 10
       ORDER BY query_id, "rank""""
  }

  /** q191 oracle: the q89 exact/LSH rank CTEs, swept at k = 1/5/10 via
    * conditional sums over ONE rank join (same shape as the engine). */
  private def recallAtKSql: String = {
    val sigExpr = annSigExpr
    val probes = annProbes
    s"""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm, $sigExpr AS sig
             FROM p),
       exr AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(q.vec, c.vec) / (q.norm * c.norm), 6) DESC,
                            c.vec_id) AS r
               FROM n c, n q WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
       qb AS (SELECT vec_id, vec, norm,
                unnest(list_transform($probes, o -> xor(sig, CAST(o AS BIGINT)))) AS bucket
              FROM n WHERE vec_id < 20),
       asims AS (SELECT DISTINCT qb.vec_id AS query_id, c.vec_id AS corpus_id,
                   round(list_dot_product(qb.vec, c.vec) / (qb.norm * c.norm), 6) AS cosine
                 FROM n c JOIN qb ON c.sig = qb.bucket
                 WHERE qb.vec_id <> c.vec_id),
       ar AS (SELECT query_id, corpus_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, corpus_id) AS r FROM asims),
       j AS (SELECT e.query_id, e.r AS re, a.r AS ra
             FROM exr e LEFT JOIN ar a
               ON a.query_id = e.query_id AND a.corpus_id = e.corpus_id
               AND a.r <= 10
             WHERE e.r <= 10),
       agg AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq,
           CAST(sum(CASE WHEN re <= 1 AND ra <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
           CAST(sum(CASE WHEN re <= 5 AND ra <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS h5,
           CAST(sum(CASE WHEN re <= 10 AND ra <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS h10
         FROM j)
       SELECT k, k * nq AS n_true, h AS n_hit,
         CAST(h * 1000 // (k * nq) AS BIGINT) AS recall_milli
       FROM (SELECT 1 AS k, h1 AS h, nq FROM agg
             UNION ALL SELECT 5, h5, nq FROM agg
             UNION ALL SELECT 10, h10, nq FROM agg)
       ORDER BY k"""
  }

  /** q89 oracle: recall@10 of the LSH retrieval (annLshSql's construction)
    * vs the exact brute-force ranking (q46's construction) — both CTE
    * chains inlined over ONE shared signature CTE, counts left-joined per
    * query point. recall_milli uses floor integer division, mirroring the
    * engine's floor(n_hit*1000/n_exact). */
  private def annRecallSql: String = {
    val sigExpr = annSigExpr
    val probes = annProbes
    s"""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm, $sigExpr AS sig
             FROM p),
       exr AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(q.vec, c.vec) / (q.norm * c.norm), 6) DESC,
                            c.vec_id) AS r
               FROM n c, n q WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
       exact AS (SELECT query_id, corpus_id FROM exr WHERE r <= 10),
       qb AS (SELECT vec_id, vec, norm,
                unnest(list_transform($probes, o -> xor(sig, CAST(o AS BIGINT)))) AS bucket
              FROM n WHERE vec_id < 20),
       asims AS (SELECT DISTINCT qb.vec_id AS query_id, c.vec_id AS corpus_id,
                   round(list_dot_product(qb.vec, c.vec) / (qb.norm * c.norm), 6) AS cosine
                 FROM n c JOIN qb ON c.sig = qb.bucket
                 WHERE qb.vec_id <> c.vec_id),
       ar AS (SELECT query_id, corpus_id,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, corpus_id) AS r FROM asims),
       approx AS (SELECT query_id, corpus_id FROM ar WHERE r <= 10)
       SELECT e.query_id, count(*) AS n_exact,
         CAST(count(a.corpus_id) AS BIGINT) AS n_hit,
         CAST(count(a.corpus_id) * 1000 // count(*) AS BIGINT) AS recall_milli
       FROM exact e LEFT JOIN approx a
         ON e.query_id = a.query_id AND e.corpus_id = a.corpus_id
       GROUP BY e.query_id ORDER BY e.query_id"""
  }

  /** Mirrors Ann.ivfTopK(nlist=16, nprobe=4, k=10): stride-sampled centroid
    * pick (vec_id % (count/16) = 0, first 16 by id), nearest-cell ranking by
    * dot/cnorm with DESC cid tiebreak (= reverse(array_sort) on (sim, cid)
    * structs), corpus in its top-1 cell, queries probing their top-4. */
  private def annIvfSql: String =
    """WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM p),
       cnt AS (SELECT count(*) AS c FROM n),
       cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                  vec AS cvec, norm AS cnorm
                FROM n WHERE vec_id % greatest(1, (SELECT c FROM cnt) // 16) = 0
                ORDER BY vec_id LIMIT 16),
       ranked AS (SELECT v.vec_id, v.vec, v.norm, c.cid,
                    row_number() OVER (PARTITION BY v.vec_id
                      ORDER BY list_dot_product(v.vec, c.cvec) / c.cnorm DESC, c.cid DESC) AS cr
                  FROM n v CROSS JOIN cent c),
       corp AS (SELECT vec_id AS corpus_id, vec, norm, cid AS cell FROM ranked WHERE cr = 1),
       qr AS (SELECT vec_id AS query_id, vec, norm, cid AS cell FROM ranked
              WHERE vec_id < 20 AND cr <= 4),
       sims AS (SELECT DISTINCT qr.query_id, corp.corpus_id,
                  round(list_dot_product(qr.vec, corp.vec) / (qr.norm * corp.norm), 6) AS cosine
                FROM corp JOIN qr ON corp.cell = qr.cell
                WHERE qr.query_id <> corp.corpus_id),
       r AS (SELECT query_id, corpus_id, cosine,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, corpus_id) AS "rank" FROM sims)
       SELECT query_id, corpus_id, cosine, "rank" FROM r WHERE "rank" <= 10
       ORDER BY query_id, "rank""""

  /** q63 oracle: q56's IVF mirror with `iters` Lloyd passes inlined as SQL.
    * Each pass re-assigns every vector to its nearest current centroid
    * (same dot/cnorm DESC, cid DESC ranking as the final assignment), then
    * recomputes per-cell per-dimension means — unnest zipped with a 1-based
    * index list, and the EXACT integerized mean floor(sum(floor(x·2²⁴))/n)
    * / 2²⁴ mirroring Ann.refineCentroids bit-for-bit (BIGINT sum is
    * order-free; the single IEEE division + floor is engine-identical) —
    * and falls back to the previous centroid for cells that went empty. */
  private def annIvfLloydSql(iters: Int): String = {
    val iterCtes = (0 until iters).map { k =>
      s"""asg$k AS (SELECT v.vec_id, v.vec, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY list_dot_product(v.vec, c.cvec) / c.cnorm DESC, c.cid DESC) AS cr
         FROM n v CROSS JOIN cent$k c),
       ex$k AS (SELECT cid, unnest(vec) AS x, unnest(range(1, len(vec) + 1)) AS i
                FROM asg$k WHERE cr = 1),
       mv$k AS (SELECT cid, list(m ORDER BY i) AS mv FROM
                  (SELECT cid, i,
                     floor(CAST(sum(CAST(floor(x * 16777216.0) AS BIGINT)) AS DOUBLE)
                       / count(*)) / 16777216.0 AS m
                   FROM ex$k GROUP BY cid, i)
                GROUP BY cid),
       cent${k + 1} AS (SELECT c.cid, coalesce(m.mv, c.cvec) AS cvec,
           CASE WHEN m.mv IS NULL THEN c.cnorm
                ELSE sqrt(list_dot_product(m.mv, m.mv)) END AS cnorm
         FROM cent$k c LEFT JOIN mv$k m USING (cid))"""
    }.mkString(",\n       ")
    s"""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM p),
       cnt AS (SELECT count(*) AS c FROM n),
       cent0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                  vec AS cvec, norm AS cnorm
                FROM n WHERE vec_id % greatest(1, (SELECT c FROM cnt) // 16) = 0
                ORDER BY vec_id LIMIT 16),
       $iterCtes,
       ranked AS (SELECT v.vec_id, v.vec, v.norm, c.cid,
                    row_number() OVER (PARTITION BY v.vec_id
                      ORDER BY list_dot_product(v.vec, c.cvec) / c.cnorm DESC, c.cid DESC) AS cr
                  FROM n v CROSS JOIN cent$iters c),
       corp AS (SELECT vec_id AS corpus_id, vec, norm, cid AS cell FROM ranked WHERE cr = 1),
       qr AS (SELECT vec_id AS query_id, vec, norm, cid AS cell FROM ranked
              WHERE vec_id < 20 AND cr <= 4),
       sims AS (SELECT DISTINCT qr.query_id, corp.corpus_id,
                  round(list_dot_product(qr.vec, corp.vec) / (qr.norm * corp.norm), 6) AS cosine
                FROM corp JOIN qr ON corp.cell = qr.cell
                WHERE qr.query_id <> corp.corpus_id),
       r AS (SELECT query_id, corpus_id, cosine,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, corpus_id) AS "rank" FROM sims)
       SELECT query_id, corpus_id, cosine, "rank" FROM r WHERE "rank" <= 10
       ORDER BY query_id, "rank""""
  }

  private def pivotAlignSql: String = {
    val cols = eventTypes.map(e =>
      s"""coalesce(CAST(CAST(sum(CASE WHEN event_type = '$e'
            THEN floor(value * 100 + 0.5) END) AS BIGINT) * 1000
          // NULLIF(count(CASE WHEN event_type = '$e' THEN 1 END), 0)
          AS BIGINT) / 100000.0, 0.0) AS $e""").mkString(", ")
    s"SELECT date_trunc('minute', ts) AS bucket, $cols FROM events GROUP BY 1 ORDER BY bucket"
  }

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
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
         FROM a ORDER BY l_returnflag, l_linestatus""",
    "q02_market_metrics" ->
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
         FROM a ORDER BY event_type""",
    "q03_daily_summary" ->
      """SELECT CAST(ts AS DATE) AS date,
         CAST(CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) * 1000
           // count(*) AS BIGINT) / 100000.0 AS avg_value,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
           AS sum_value,
         round(max(value), 6) AS max_value,
         count(*) AS n
         FROM events GROUP BY 1 ORDER BY date""",
    "q04_monthly_rollup" ->
      """SELECT strftime(ts, '%Y-%m') AS month,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
           AS sum_value,
         count(*) AS n FROM events GROUP BY 1 ORDER BY month""",
    "q05_hour_profile" ->
      """SELECT CAST(hour(ts) AS INTEGER) AS hour,
         CAST(CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) * 1000
           // count(*) AS BIGINT) / 100000.0 AS avg_value,
         count(*) AS n FROM events GROUP BY 1 ORDER BY hour""",
    "q06_dow_profile" ->
      """SELECT CAST(isodow(ts) - 1 AS INTEGER) AS weekday, dayname(ts) AS weekday_name,
         CAST(CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) * 1000
           // count(*) AS BIGINT) / 100000.0 AS avg_value,
         count(*) AS n
         FROM events GROUP BY 1, 2 ORDER BY weekday""",
    "q07_heatmap_pivot" -> heatmapSql,
    // Exact integer sums + terminal divide-and-sqrt (mirrors the engine's
    // DECIMAL identity; corr() accumulates doubles in engine-specific order).
    "q08_corr" ->
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
         FROM a""",
    "q09_overall_summary" ->
      """SELECT CAST(CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) * 1000
           // count(*) AS BIGINT) / 100000.0 AS avg_value,
         round(median(value), 6) AS median_value,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
           AS sum_value,
         count(*) AS n,
         round(quantile_cont(value, 0.95), 6) AS p95,
         round(quantile_cont(value, 0.99), 6) AS p99
         FROM events""",
    "q10_distinct_types" ->
      "SELECT DISTINCT event_type FROM events ORDER BY event_type",
    "q11_coverage" ->
      """SELECT min(ts) AS min_ts, max(ts) AS max_ts, count(*) AS n_rows,
         count(DISTINCT date_trunc('minute', ts)) AS n_minutes,
         CAST(floor(date_diff('second', min(ts), max(ts)) / 60) + 1 AS BIGINT) AS expected_minutes,
         CAST(floor(date_diff('second', min(ts), max(ts)) / 60) + 1 AS BIGINT)
           - count(DISTINCT date_trunc('minute', ts)) AS missing_minutes
         FROM events""",
    "q12_table_stats" ->
      """SELECT count(*) AS n, min(o_orderdate) AS min_ts, max(o_orderdate) AS max_ts,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           / 100.0 AS sum_value
         FROM orders""",
    "q13_best_bid_ask" ->
      """SELECT max(CASE WHEN event_type = 'click' THEN value END) AS best_bid,
         min(CASE WHEN event_type = 'view' THEN value END) AS best_ask,
         min(CASE WHEN event_type = 'view' THEN value END)
           - max(CASE WHEN event_type = 'click' THEN value END) AS spread,
         (min(CASE WHEN event_type = 'view' THEN value END)
           + max(CASE WHEN event_type = 'click' THEN value END)) / 2 AS mid
         FROM events""",
    "q14_depth_topn" ->
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
         FROM ranked WHERE rn <= 100 GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q15_lag_diff" ->
      """SELECT user_id, event_id, value,
         value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS diff
         FROM events ORDER BY event_id""",
    "q16_rolling_std" ->
      """SELECT event_type, event_id,
         CASE WHEN count(value) OVER w >= 30
              THEN round(stddev_samp(value) OVER w * sqrt(60.0), 6) END AS vol60
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    "q17_forward_returns" ->
      """SELECT event_id, value,
         lead(value, 5) OVER w AS lead_5,
         CASE WHEN lead(value, 5) OVER w > 0 AND value > 0
              THEN round(ln(lead(value, 5) OVER w / value), 6) END AS fwd_ret_5,
         lead(value, 15) OVER w AS lead_15,
         CASE WHEN lead(value, 15) OVER w > 0 AND value > 0
              THEN round(ln(lead(value, 15) OVER w / value), 6) END AS fwd_ret_15
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
         ORDER BY event_id""",
    "q18_book_levels" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, level FROM (
           SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS level
           FROM lineitem) WHERE level <= 100
         ORDER BY l_returnflag, level""",
    "q19_topk_notional" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice * l_quantity AS notional
         FROM lineitem ORDER BY notional DESC, l_orderkey, l_linenumber LIMIT 50""",
    "q20_deterministic_sample" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
         ORDER BY md5(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)) LIMIT 1000""",
    "q21_join_enrich" ->
      """SELECT l_orderkey, l_linenumber, o_orderdate, o_totalprice, l_extendedprice
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         ORDER BY l_orderkey, l_linenumber, l_extendedprice""",
    "q22_regional_revenue" ->
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
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q23_pivot_align" -> pivotAlignSql,
    "q24_upsert" ->
      """WITH base AS (SELECT event_id, value, 0 AS r FROM events),
         upd AS (SELECT event_id, value + 1000 AS value, 1 AS r FROM events
                 WHERE event_id % 10 = 0),
         u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
         rk AS (SELECT event_id, value,
                  row_number() OVER (PARTITION BY event_id ORDER BY r DESC) AS rn
                FROM u)
         SELECT event_id, value FROM rk WHERE rn = 1 ORDER BY event_id""",
    "q25_semi_join" ->
      """SELECT o_orderkey, o_totalprice FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
         ORDER BY o_orderkey""",
    "q26_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey""",
    "q27_asof_join" ->
      """WITH l AS (SELECT user_id, ts, event_id, value FROM events
                    WHERE event_type = 'purchase'),
         r AS (SELECT user_id, ts, max(value) AS view_value FROM events
               WHERE event_type = 'view' GROUP BY 1, 2)
         SELECT l.user_id, l.event_id, l.value, r.view_value AS asof_view_value
         FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY event_id""",
    "q28_union_slices" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM (
           SELECT * FROM lineitem WHERE l_quantity <= 2
           UNION ALL
           SELECT * FROM lineitem WHERE l_quantity >= 49)
         ORDER BY l_orderkey, l_linenumber, l_quantity""",
    "q29_intersect" ->
      """SELECT o_custkey AS custkey FROM orders
         INTERSECT
         SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0
         ORDER BY custkey""",
    "q30_except" ->
      """SELECT c_custkey AS custkey FROM customer
         EXCEPT
         SELECT o_custkey AS custkey FROM orders
         ORDER BY custkey""",
    "q31_robust_z" ->
      """WITH m AS (SELECT median(value) AS med FROM events),
         md AS (SELECT median(abs(value - (SELECT med FROM m))) AS mad FROM events)
         SELECT event_id, value,
           round(CASE WHEN (SELECT mad FROM md) = 0
                      THEN value - (SELECT med FROM m)
                      ELSE 0.6745 * (value - (SELECT med FROM m)) / (SELECT mad FROM md)
                 END, 6) AS z_value
         FROM events ORDER BY event_id""",
    "q32_anomaly_topk" ->
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
         FROM z ORDER BY anomaly_score DESC, event_id LIMIT 200""",
    "q33_rollup_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q34_tumbling_window" ->
      """SELECT time_bucket(INTERVAL '5 minutes', ts) AS win_start, event_type,
         count(*) AS n,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
           AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""",
    "q35_session_window" ->
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
         FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start""",
    "q36_text_stats" ->
      """SELECT doc_id,
         CAST(length(text) AS INTEGER) AS n_chars,
         CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpeish,
         CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS INTEGER) AS n_punct,
         CAST(length(regexp_replace(text, '\s', '', 'g')) AS INTEGER) AS n_nonws,
         round(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
               / len(string_split_regex(trim(text), '\s+')), 6) AS avg_token_len
         FROM documents ORDER BY doc_id""",
    "q37_lang_id" -> langIdSql,
    "q38_quality_score" ->
      s"""WITH $qualityMilliCte
         SELECT doc_id, quality_milli FROM q ORDER BY doc_id""",
    "q39_fingerprint" ->
      """SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
         FROM documents ORDER BY doc_id""",
    "q40_dedup_exact" ->
      """SELECT doc_id, n_chars FROM (
           SELECT doc_id, n_chars,
             row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           FROM documents) WHERE rn = 1 ORDER BY doc_id""",
    "q41_dedup_fingerprint" ->
      """SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint,
         min(doc_id) AS keep_id, count(*) AS n_dups
         FROM documents GROUP BY 1 ORDER BY fingerprint""",
    "q42_ngram_jaccard" ->
      s"""WITH $shinglesCte,
         ef AS (SELECT * FROM e WHERE sh NOT IN
                  (SELECT sh FROM e GROUP BY sh HAVING count(*) > 100)),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
             count(*) AS inter
           FROM ef a JOIN ef b ON a.sh = b.sh AND a.id < b.id
           GROUP BY 1, 2, 3, 4),
         j AS (SELECT id_a, id_b,
                 round(inter / (n_a + n_b - inter), 6) AS jaccard FROM pairs)
         SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.05
         ORDER BY id_a, id_b""",
    "q43_minhash_lsh" -> minhashSql,
    "q44_simhash_dedup" -> simhashSql,
    "q45_embedding_dedup" ->
      """WITH v AS (SELECT label AS block, vec_id AS id,
                      CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         n AS (SELECT block, id, vec, norm FROM
                 (SELECT block, id, vec,
                    sqrt(list_dot_product(vec, vec)) AS norm FROM v)
               WHERE norm > 0),
         p AS (SELECT a.block AS block, a.id AS id_a, b.id AS id_b,
                 round(list_dot_product(a.vec, b.vec) / (a.norm * b.norm), 6) AS cosine
               FROM n a JOIN n b ON a.block = b.block AND a.id < b.id)
         SELECT block, id_a, id_b, cosine FROM p WHERE cosine >= 0.1
         ORDER BY id_a, id_b""",
    "q47_ann_lsh" -> annLshSql,
    "q46_ann_topk" ->
      """WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM p),
         q AS (SELECT * FROM n WHERE vec_id < 20),
         sims AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                    round(list_dot_product(q.vec, c.vec) / (q.norm * c.norm), 6) AS cosine
                  FROM n c, q WHERE q.vec_id <> c.vec_id),
         r AS (SELECT query_id, corpus_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, corpus_id) AS "rank" FROM sims)
         SELECT query_id, corpus_id, cosine, "rank" FROM r WHERE "rank" <= 10
         ORDER BY query_id, "rank"""",
    "q48_multimodal_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
         CAST(64 + octet_length(encode(text)) % 512 AS INTEGER) AS width,
         CAST(64 + (octet_length(encode(text)) * 7) % 512 AS INTEGER) AS height,
         3 AS channels
         FROM documents ORDER BY doc_id""",
    "q49_rolling_hash" -> rollingHashSql,
    "q50_corr_matrix" -> {
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
    },
    "q51_gap_listing" ->
      """WITH mm AS (SELECT date_trunc('minute', min(ts)) AS mn,
                            date_trunc('minute', max(ts)) AS mx FROM events),
         allm AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 MINUTE)) AS minute FROM mm)
         SELECT minute FROM allm
         EXCEPT SELECT DISTINCT date_trunc('minute', ts) AS minute FROM events
         ORDER BY minute""",
    "q52_token_histogram" ->
      """SELECT token, count(*) AS n FROM (
           SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
           FROM documents)
         GROUP BY token ORDER BY n DESC, token LIMIT 100""",
    "q53_rank_family" ->
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
         ORDER BY event_type, rnk, event_id""",
    "q54_cube_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q55_distinct_counts" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_custs,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             / 100.0 AS sum_price
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q56_ann_ivf" -> annIvfSql,
    "q57_tfidf" ->
      """WITH toks AS (SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
             FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
                GROUP BY doc_id, token),
         dfreq AS (SELECT token, count(*) AS dfreq FROM tf GROUP BY token),
         nd AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (SELECT tf.doc_id, tf.token,
             round(tf.tf * ln(CAST((SELECT n_docs FROM nd) AS DOUBLE) / dfreq.dfreq), 6) AS tfidf
           FROM tf JOIN dfreq USING (token)),
         r AS (SELECT doc_id, token, tfidf,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, token) AS rnk FROM scored)
         SELECT doc_id, token, tfidf, rnk FROM r WHERE rnk <= 3
         ORDER BY doc_id, rnk""",
    "q58_pii_redact" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\+[0-9][0-9-]{7,}"
      val redacted = s"regexp_replace(regexp_replace(aug, '$email', '[EMAIL]', 'g'), '$phone', '[PHONE]', 'g')"
      s"""WITH aug AS (SELECT doc_id,
             text || repeat(' user' || CAST(doc_id AS VARCHAR) || '@example.com',
                            CAST(doc_id % 3 AS INT))
                  || ' tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(aug, '$email')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(aug, '$phone')) AS INT) AS n_phones,
           md5($redacted) AS redacted_md5,
           length($redacted) AS redacted_len
         FROM aug ORDER BY doc_id"""
    },
    "q59_cluster_histogram" ->
      s"""WITH $clusterCellsCte
         SELECT cell, count(*) AS n_vecs, min(vec_id) AS min_id, max(vec_id) AS max_id
         FROM corp GROUP BY cell ORDER BY cell""",
    "q60_media_headers" ->
      """SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'wav' END AS kind,
           CASE WHEN doc_id % 3 IN (0, 1) THEN 16 + doc_id % 1024 END AS width,
           CASE WHEN doc_id % 3 IN (0, 1) THEN 16 + (doc_id * 3) % 1024 END AS height,
           CASE WHEN doc_id % 3 = 2 THEN 1 + doc_id % 2 END AS channels,
           CASE WHEN doc_id % 3 = 2 THEN
             CASE WHEN doc_id % 2 = 0 THEN 44100 ELSE 8000 END END AS sample_rate
         FROM documents ORDER BY doc_id""",
    "q61_stratified_sample" ->
      """WITH r AS (SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rnk
           FROM documents)
         SELECT doc_id, lang, rnk FROM r WHERE rnk <= 50
         ORDER BY lang, rnk""",
    "q62_sequence_packing" ->
      """WITH toks AS (SELECT doc_id, lang,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         b AS (SELECT doc_id, lang, n_tokens,
             CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                         - n_tokens) / CAST(2048 AS DOUBLE)) AS BIGINT) AS bin
           FROM toks)
         SELECT lang, bin, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           min(doc_id) AS first_doc
         FROM b GROUP BY lang, bin ORDER BY lang, bin""",
    "q63_ann_ivf_lloyd" -> annIvfLloydSql(2),
    "q64_interval_join" ->
      """SELECT p.event_id AS purchase_id, count(*) AS n_clicks,
           CAST(sum(CAST(floor(c.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             / 100.0 AS click_value
         FROM events p JOIN events c
           ON c.user_id = p.user_id
          AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
         WHERE p.event_type = 'purchase' AND c.event_type = 'click'
         GROUP BY purchase_id ORDER BY purchase_id""",
    "q65_dedup_components" -> dedupComponentsSql,
    "q66_decontaminate" ->
      s"""WITH $shinglesCte,
         te AS (SELECT DISTINCT $contShingleHashSql AS shh FROM e WHERE id % 50 = 0),
         tr AS (SELECT id, $contShingleHashSql AS shh FROM e WHERE id % 50 <> 0)
         SELECT id AS doc_id, count(*) AS n_shared
         FROM tr JOIN te USING (shh)
         GROUP BY id HAVING count(*) >= 3 ORDER BY doc_id""",
    "q67_repetition" ->
      s"""WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
             FROM documents),
         c AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_toks,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_toks,
             CAST(greatest(len(toks) - 1, 0) AS BIGINT) AS n_2grams,
             CAST(len(list_distinct($twoGramListSql)) AS BIGINT) AS n_distinct_2grams
           FROM tk)
         SELECT doc_id, n_toks, n_distinct_toks, n_2grams, n_distinct_2grams,
           CASE WHEN n_2grams > 0 THEN (n_2grams - n_distinct_2grams) * 1000 // n_2grams
                ELSE CAST(0 AS BIGINT) END AS rep_2gram_milli
         FROM c ORDER BY doc_id""",
    "q68_banded_range_join" ->
      """SELECT p.event_id AS purchase_id, count(*) AS n_prior_views
         FROM events p JOIN events v
           ON v.user_id = p.user_id
          AND v.ts >= p.ts - INTERVAL 30 MINUTE AND v.ts < p.ts
         WHERE p.event_type = 'purchase' AND v.event_type = 'view'
         GROUP BY purchase_id ORDER BY purchase_id""",
    "q69_corpus_curation" -> curationSql,
    "q70_minhash_components" -> minhashComponentsSql,
    "q71_embedding_lsh_dedup" -> embLshSql,
    "q72_incremental_dedup" ->
      """WITH fp AS (SELECT doc_id,
             md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
           FROM documents),
         idx AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 10 < 8),
         batch AS (SELECT * FROM fp WHERE doc_id % 10 >= 8),
         keep AS (SELECT fingerprint, min(doc_id) AS doc_id
                  FROM batch GROUP BY fingerprint)
         SELECT doc_id, fingerprint FROM keep k
         WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.fingerprint = k.fingerprint)
         ORDER BY doc_id""",
    "q73_incremental_minhash" ->
      s"""WITH $minhashCtes,
         idx AS (SELECT DISTINCT bi, bv FROM mbands WHERE id % 10 < 8),
         bat AS (SELECT id, bi, bv FROM mbands WHERE id % 10 >= 8)
         SELECT b.id AS doc_id, count(*) AS n_matching_bands
         FROM bat b JOIN idx i ON b.bi = i.bi AND b.bv = i.bv
         GROUP BY b.id ORDER BY doc_id""",
    // The Bloom prefilter is an engine-side physical optimization with no
    // semantic footprint: the oracle is the plain exact-join SQL.
    "q74_bloom_decontaminate" ->
      s"""WITH $shinglesCte,
         te AS (SELECT DISTINCT $contShingleHashSql AS shh FROM e WHERE id % 40 = 0),
         tr AS (SELECT id, $contShingleHashSql AS shh FROM e WHERE id % 40 <> 0)
         SELECT id AS doc_id, count(*) AS n_shared
         FROM tr JOIN te USING (shh)
         GROUP BY id HAVING count(*) >= 2 ORDER BY doc_id""",
    // The oracle states the SEMANTICS (one windowed cumulative sum per
    // source); the engine's bucketed two-phase form must be bit-identical.
    "q75_mixture_sample" ->
      """WITH w AS (SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks,
             md5(CAST(doc_id AS VARCHAR)) AS k,
             500 + 250 * (CAST(substring(source, 4) AS BIGINT) % 4) AS budget
           FROM documents),
         c AS (SELECT doc_id, source, n_toks, budget,
             sum(n_toks) OVER (PARTITION BY source ORDER BY k
                               ROWS UNBOUNDED PRECEDING) AS run
           FROM w)
         SELECT doc_id, source, n_toks FROM c WHERE run <= budget
         ORDER BY doc_id""",
    // The q76 cleaning CTEs, then quality/draw/window over the CLEANED
    // text — stage-for-stage the engine pipeline's mirror.
    "q79_curation_pipeline" -> {
      val stopTc = langScoreSql(Seq("the", "a", "of", "and", "is"), "text_clean")
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             FROM documents),
         lf AS (SELECT doc_id,
             list_transform(range(1, CAST(ceil(len(toks) / 12.0) AS INT) + 1),
               i -> array_to_string(list_slice(toks, (i - 1) * 12 + 1, (i - 1) * 12 + 12), ' ')) AS lns
           FROM tk),
         segs AS (SELECT doc_id, unnest(lns) AS seg,
             generate_subscripts(lns, 1) AS idx FROM lf),
         hot AS (SELECT seg FROM segs GROUP BY seg HAVING count(*) > 2),
         mk AS (SELECT s.doc_id, s.idx, s.seg, (h.seg IS NOT NULL) AS hot
                FROM segs s LEFT JOIN hot h USING (seg)),
         cleaned AS (SELECT doc_id,
             coalesce(string_agg(CASE WHEN NOT hot THEN seg END, chr(10) ORDER BY idx), '') AS text_clean,
             count(CASE WHEN NOT hot THEN 1 END) AS n_kept
           FROM mk GROUP BY doc_id),
         cd AS (SELECT c.doc_id, c.text_clean, d.source
                FROM cleaned c JOIN documents d USING (doc_id)
                WHERE c.n_kept >= 1),
         f AS (SELECT doc_id, source, text_clean,
             CAST(length(text_clean) AS BIGINT) AS nc,
             CAST(len(string_split_regex(trim(text_clean), '\s+')) AS BIGINT) AS nt,
             CAST(STOPTC AS BIGINT) AS stop,
             CAST(length(regexp_replace(text_clean, '[A-Za-z0-9\s]', '', 'g')) AS BIGINT) AS pu
           FROM cd),
         q AS (SELECT doc_id, source, text_clean,
             (400 * least(nc, 500)) // 500
             + (300 * least(stop * 5, nt)) // nt
             + 300 - (300 * least(pu * 10, nc)) // nc AS quality_milli
           FROM f),
         samp AS (SELECT doc_id, source, quality_milli,
             CAST(len(string_split_regex(trim(text_clean), '\s+')) AS BIGINT) AS n_toks
           FROM q
           WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000
                 < quality_milli),
         c2 AS (SELECT doc_id, source, quality_milli, n_toks,
             sum(n_toks) OVER (PARTITION BY source
                               ORDER BY md5(CAST(doc_id AS VARCHAR))
                               ROWS UNBOUNDED PRECEDING) AS run
           FROM samp)
         SELECT doc_id, source, quality_milli, n_toks FROM c2
         WHERE run <= 800 ORDER BY doc_id""".replace("STOPTC", stopTc)
    },

    // Same md5-hex-chunk draw as the minhash slot hashes — integer-only,
    // so the acceptance decision is bit-identical across engines.
    "q78_importance_sample" ->
      s"""WITH $qualityMilliCte
         SELECT doc_id, quality_milli FROM q
         WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000
               < quality_milli
         ORDER BY doc_id""",
    "q77_containment_pairs" ->
      s"""WITH $shinglesCte,
         ef AS (SELECT * FROM e WHERE sh NOT IN
                  (SELECT sh FROM e GROUP BY sh HAVING count(*) > 100)),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
             count(*) AS inter
           FROM ef a JOIN ef b ON a.sh = b.sh AND a.id < b.id
           GROUP BY 1, 2, 3, 4),
         c AS (SELECT id_a, id_b,
                 round(inter / least(n_a, n_b), 6) AS containment FROM pairs)
         SELECT id_a, id_b, containment FROM c WHERE containment >= 0.6
         ORDER BY id_a, id_b""",
    // Membership is by raw segment string here (hash-agnostic), so the
    // engine's xxhash64 hot set must resolve to the same segments.
    "q76_line_dedup" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             FROM documents),
         lf AS (SELECT doc_id,
             list_transform(range(1, CAST(ceil(len(toks) / 12.0) AS INT) + 1),
               i -> array_to_string(list_slice(toks, (i - 1) * 12 + 1, (i - 1) * 12 + 12), ' ')) AS lns
           FROM tk),
         segs AS (SELECT doc_id, unnest(lns) AS seg,
             generate_subscripts(lns, 1) AS idx FROM lf),
         hot AS (SELECT seg FROM segs GROUP BY seg HAVING count(*) > 2),
         mk AS (SELECT s.doc_id, s.idx, s.seg, (h.seg IS NOT NULL) AS hot
                FROM segs s LEFT JOIN hot h USING (seg))
         SELECT doc_id,
           coalesce(string_agg(CASE WHEN NOT hot THEN seg END, chr(10) ORDER BY idx), '') AS text_clean,
           count(CASE WHEN NOT hot THEN 1 END) AS n_kept,
           count(*) - count(CASE WHEN NOT hot THEN 1 END) AS n_removed
         FROM mk GROUP BY doc_id ORDER BY doc_id""",

    // Same 8-hex-char md5 draw as q78, mod 100 against the cut points.
    "q80_split_assign" ->
      """WITH s AS (SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS draw
           FROM documents),
         l AS (SELECT *, CASE WHEN draw < 90 THEN 'train'
                              WHEN draw < 95 THEN 'val'
                              ELSE 'test' END AS split FROM s)
         SELECT source, split, count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_toks
         FROM l GROUP BY 1, 2 ORDER BY source, split""",

    // The naive global-window cumsum the bucketed engine path is
    // bit-identical to (Packing.scala's prefix-bucket argument).
    "q81_pack_sequences" ->
      """WITH w AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks,
             md5(CAST(doc_id AS VARCHAR)) AS k
           FROM documents),
         c AS (SELECT doc_id, n_toks,
             CAST(sum(n_toks) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
                  - n_toks AS BIGINT) AS bef
           FROM w)
         SELECT doc_id, bef // 2048 AS bin, bef % 2048 AS bin_offset, n_toks
         FROM c ORDER BY doc_id""",

    // q56's stride-centroid assignment mirror (zero-norm vectors excluded
    // BEFORE the count/stride pick, matching the engine), then the
    // within-cell lower-id near-neighbor drop rule on the rounded cosine.
    "q82_semantic_dedup" ->
      """WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         n AS (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm FROM p
               WHERE list_dot_product(vec, vec) > 0),
         cnt AS (SELECT count(*) AS c FROM n),
         cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                    vec AS cvec, norm AS cnorm
                  FROM n WHERE vec_id % greatest(1, (SELECT c FROM cnt) // 16) = 0
                  ORDER BY vec_id LIMIT 16),
         ranked AS (SELECT v.vec_id, v.vec, v.norm, c.cid,
                      row_number() OVER (PARTITION BY v.vec_id
                        ORDER BY list_dot_product(v.vec, c.cvec) / c.cnorm DESC, c.cid DESC) AS cr
                    FROM n v CROSS JOIN cent c),
         corp AS (SELECT vec_id, vec, norm, cid AS cell FROM ranked WHERE cr = 1),
         drp AS (SELECT DISTINCT b.vec_id
                 FROM corp a JOIN corp b ON a.cell = b.cell AND a.vec_id < b.vec_id
                 WHERE round(list_dot_product(a.vec, b.vec) / (a.norm * b.norm), 6) >= 0.3)
         SELECT c.vec_id, c.cell FROM corp c LEFT JOIN drp d ON c.vec_id = d.vec_id
         WHERE d.vec_id IS NULL ORDER BY c.vec_id""",

    // Independent formulation: window argmax (priority DESC, id ASC) vs
    // the engine's map-side min(struct(-priority, id)) aggregate.
    "q83_dedup_keep_best" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source,
             row_number() OVER (PARTITION BY text
               ORDER BY (CAST(substring(source, 4) AS BIGINT) % 7) DESC, doc_id) AS rn
           FROM documents) WHERE rn = 1 ORDER BY doc_id""",

    // q70's component CTEs, then the window-argmax keeper — independent of
    // the engine's map-side min(struct(-priority, id)) formulation.
    "q84_near_dup_keep_best" ->
      s"""WITH RECURSIVE $minhashCompCtes,
         pri AS (SELECT c.doc_id, c.comp, d.source,
                   (CAST(substring(d.source, 4) AS BIGINT) % 7) AS trust
                 FROM comp c JOIN documents d USING (doc_id)),
         r AS (SELECT doc_id, comp, source,
                 row_number() OVER (PARTITION BY comp
                   ORDER BY trust DESC, doc_id) AS rn FROM pri)
         SELECT doc_id, comp, source FROM r WHERE rn = 1 ORDER BY doc_id""",

    "q85_vocab_topk" ->
      """WITH tk AS (SELECT lang,
             unnest(string_split_regex(trim(text), '\s+')) AS token
           FROM documents),
         c AS (SELECT lang, token, count(*) AS n FROM tk
               WHERE token <> '' GROUP BY 1, 2),
         r AS (SELECT lang, token, n,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY n DESC, token) AS "rank" FROM c)
         SELECT lang, token, n, "rank" FROM r WHERE "rank" <= 20
         ORDER BY lang, "rank"""",

    // Bigram instances via the pos+1 self-join (same shape as the
    // engine); counts are exact integers, only the per-doc avg of logs
    // is rounded.
    "q86_bigram_lm_score" ->
      """WITH tk AS (SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) AS pos
           FROM (SELECT doc_id,
                   string_split_regex(trim(text), '\s+') AS toks
                 FROM documents)),
         tkf AS (SELECT * FROM tk WHERE tok <> ''),
         big AS (SELECT a.doc_id, a.tok AS w1, b.tok AS w2
                 FROM tkf a JOIN tkf b
                   ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
         c12 AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY 1, 2),
         -- deliberately counts INSTANCES, not Σ over c12: independently
         -- verifies the engine's marginal derivation c(w1·) = Σ_w2 c(w1,w2)
         c1 AS (SELECT w1, count(*) AS c FROM big GROUP BY 1),
         v AS (SELECT count(DISTINCT tok) AS v FROM tkf)
         SELECT g.doc_id, count(*) AS n_bigrams,
           CAST(sum(CAST(floor(-ln((c12.c + 1.0) / (c1.c + v.v)) * 1000000)
             AS BIGINT)) // count(*) AS BIGINT) AS avg_nll_micro
         FROM big g JOIN c12 ON g.w1 = c12.w1 AND g.w2 = c12.w2
         JOIN c1 ON g.w1 = c1.w1 CROSS JOIN v
         GROUP BY g.doc_id ORDER BY g.doc_id""",

    // Dedup only REMOVES rows, so quality computed over ALL docs (the
    // shared q CTE) joined to the keeper set equals the engine's
    // keepers-then-score order. Stage thresholds are exact integers; the
    // split draw and packing cumsum reuse the q80/q81 constructions.
    "q87_pretraining_pipeline" -> {
      s"""WITH $qualityMilliCte,
         k AS (SELECT doc_id FROM (
                 SELECT doc_id, row_number() OVER (PARTITION BY text
                   ORDER BY doc_id) AS rn FROM documents) WHERE rn = 1),
         s AS (SELECT q.doc_id, q.quality_milli FROM q JOIN k USING (doc_id)
               WHERE q.quality_milli >= 600),
         tr AS (SELECT s.doc_id, s.quality_milli,
                  CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS n_toks
                FROM s JOIN documents d USING (doc_id)
                WHERE CAST('0x' || substring(md5(CAST(s.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 90),
         c AS (SELECT doc_id, quality_milli, n_toks,
                 CAST(sum(n_toks) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))
                   ROWS UNBOUNDED PRECEDING) - n_toks AS BIGINT) AS bef
               FROM tr)
         SELECT doc_id, quality_milli, bef // 1024 AS bin,
           bef % 1024 AS bin_offset, n_toks
         FROM c ORDER BY doc_id"""
    },

    // Same gram/fingerprint/neighborhood-min construction (portable md5
    // keys make the SELECTION itself reproducible, not just membership).
    "q88_winnowed_overlap" ->
      """WITH tk AS (SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS toks FROM documents),
         lf AS (SELECT doc_id,
             list_transform(range(1, len(toks) - 2), i ->
               array_to_string(list_slice(toks, i, i + 3), ' ')) AS gs
           FROM tk WHERE len(toks) >= 4),
         g AS (SELECT doc_id, unnest(gs) AS gram,
             generate_subscripts(gs, 1) AS pos FROM lf),
         f AS (SELECT doc_id, pos,
             CAST('0x' || substring(md5(gram), 1, 15) AS BIGINT) AS fp FROM g),
         sel AS (SELECT DISTINCT doc_id, fp FROM (
             SELECT doc_id, fp,
               min(fp) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nmin
             FROM f) WHERE fp = nmin),
         hot AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) > 50),
         pr AS (SELECT * FROM sel WHERE fp NOT IN (SELECT fp FROM hot))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY id_a, id_b""",
    "q89_ann_recall" -> annRecallSql,
    // The lambda's constants are forced to DOUBLE and the decay factor is
    // written as (1 - 0.2) IN DOUBLE ARITHMETIC: the engine computes
    // c = 1.0 - alpha as a double subtraction, and 1.0-0.2 in binary is a
    // DIFFERENT double than the literal 0.8 — a decimal-typed 0.8 here
    // would desynchronize the fold chains.
    "q90_ewma" ->
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
         ORDER BY user_id, event_type, event_id""",
    "q91_doc_chunks" ->
      """WITH tk AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         c AS (
           SELECT doc_id, CAST(s // 48 AS BIGINT) AS chunk_idx,
                  toks[s + 1 : s + 64] AS chunk
           FROM tk, unnest(generate_series(0, len(toks) - 1, 48)) AS g(s))
         SELECT doc_id, chunk_idx, CAST(len(chunk) AS INTEGER) AS n_chunk_toks,
           md5(array_to_string(chunk, ' ')) AS chunk_md5
         FROM c ORDER BY doc_id, chunk_idx""",
    "q92_rolling_corr" -> {
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
    },
    "q93_funnel" ->
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
         ORDER BY user_id, click_id""",
    "q94_ks_drift" ->
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
         FROM e GROUP BY 1 ORDER BY event_type""",
    "q95_chi2_drift" ->
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
         FROM x""",
    "q96_psi_drift" ->
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
         FROM p GROUP BY 1 ORDER BY event_type""",
    "q97_snapshot_diff" ->
      """WITH oldsnap AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 1),
         newsnap AS (
           SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END AS text
           FROM documents WHERE doc_id % 11 <> 2)
         SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.text = n.text THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM oldsnap o FULL OUTER JOIN newsnap n ON o.doc_id = n.doc_id
         ORDER BY doc_id""",
    "q98_pmi_collocations" ->
      """WITH tk AS (
           SELECT string_split_regex(trim(text), '\s+') AS toks FROM documents),
         pr AS (
           SELECT toks[i] AS tok_a, toks[i + 1] AS tok_b
           FROM tk, unnest(generate_series(1, len(toks) - 1)) AS g(i)),
         pc AS (SELECT tok_a, tok_b, count(*) AS n_pair
                FROM pr GROUP BY 1, 2 HAVING count(*) >= 5),
         uni AS (SELECT tok, count(*) AS n_tok
                 FROM (SELECT unnest(toks) AS tok FROM tk) GROUP BY 1)
         SELECT tok_a, tok_b, CAST(n_pair AS BIGINT) AS n_pair,
           CAST(n_pair * 1000000000 // (a.n_tok * b.n_tok) AS BIGINT) AS lift_ppb
         FROM pc JOIN uni a ON pc.tok_a = a.tok JOIN uni b ON pc.tok_b = b.tok
         ORDER BY lift_ppb DESC, tok_a, tok_b LIMIT 100""",
    "q99_contamination_attribution" ->
      s"""WITH $shinglesCte,
         te AS (SELECT DISTINCT 'suite' || CAST(id % 3 AS VARCHAR) AS suite,
                  $contShingleHashSql AS shh
                FROM e WHERE id % 50 = 0),
         tr AS (SELECT id, $contShingleHashSql AS shh FROM e WHERE id % 50 <> 0),
         ov AS (SELECT id, suite, count(*) AS n_shared
                FROM tr JOIN te USING (shh)
                GROUP BY 1, 2 HAVING count(*) >= 3),
         r AS (SELECT id, suite, n_shared,
             row_number() OVER (PARTITION BY id
               ORDER BY n_shared DESC, suite DESC) AS rn,
             count(*) OVER (PARTITION BY id) AS n_suites
           FROM ov)
         SELECT id AS doc_id, suite AS top_suite,
           CAST(n_shared AS BIGINT) AS top_shared,
           CAST(n_suites AS BIGINT) AS n_suites
         FROM r WHERE rn = 1 ORDER BY doc_id""",
    "q100_quality_deciles" ->
      s"""WITH $qualityMilliCte,
         r AS (SELECT doc_id, lang, quality_milli,
             rank() OVER (PARTITION BY lang ORDER BY quality_milli) - 1 AS cum_lt,
             count(*) OVER (PARTITION BY lang) AS ng
           FROM q JOIN documents USING (doc_id))
         SELECT doc_id, lang, quality_milli,
           CAST(least(9, (10 * cum_lt) // ng) AS BIGINT) AS decile
         FROM r ORDER BY doc_id""",

    // Same lag→flag→running-sum spelling; a gap of EXACTLY 1800 s still
    // MERGES (only strictly-greater splits — Spark's native session_window
    // rule, which the engine operator matches for batch/stream parity).
    "q101_sessionization" ->
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
         ORDER BY user_id, session_idx""",

    // floor(1e6·sqrt(n_min/n_s)) is reproducible because sqrt is IEEE-
    // correctly-rounded in both engines (the engine fixes T=2 for exactly
    // this reason); the draw is the q78 md5-hex-chunk idiom at ppm scale.
    "q102_temperature_mix" ->
      """WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         mn AS (SELECT min(n) AS nmin FROM cnt),
         thr AS (SELECT lang,
             CAST(floor(1000000 * sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE)))
               AS BIGINT) AS keep_ppm
           FROM cnt CROSS JOIN mn)
         SELECT d.doc_id, d.lang, t.keep_ppm
         FROM documents d JOIN thr t USING (lang)
         WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               % 1000000 < t.keep_ppm
         ORDER BY d.doc_id""",

    // GROUPING(lang, source) bit order (first arg = high bit) matches
    // Spark's grouping_id(); NULLS FIRST pins DuckDB's asc ordering to
    // Spark's default.
    // Character-frequency entropy per doc, expanded the SQL way (unnest +
    // histogram) — byte entropy in the engine equals char entropy here
    // because the corpus is ASCII; the 6-dp rounding absorbs the two
    // engines' different summation orders.
    "q109_char_entropy" ->
      """WITH c AS (SELECT doc_id,
             substring(text, CAST(i AS INTEGER) + 1, 1) AS ch
           FROM (SELECT doc_id, text, unnest(range(length(text))) AS i
                 FROM documents)),
         h AS (SELECT doc_id, ch, count(*) AS c FROM c GROUP BY 1, 2),
         n AS (SELECT doc_id, sum(c) AS n FROM h GROUP BY 1),
         e AS (SELECT h.doc_id,
             round(-sum((h.c / n.n) * log2(h.c / n.n)), 6) AS entropy_bits
           FROM h JOIN n USING (doc_id) GROUP BY h.doc_id)
         SELECT d.doc_id, coalesce(e.entropy_bits, 0.0) AS entropy_bits
         FROM documents d LEFT JOIN e USING (doc_id) ORDER BY doc_id""",

    // First-occurrence novelty on RAW shingles (hash-agnostic — the engine
    // hashes to xxhash64, the compared quantities are counts).
    "q110_ngram_novelty" ->
      s"""WITH $shinglesCte,
         fst AS (SELECT sh, min(id) AS first_id FROM e GROUP BY 1),
         pd AS (SELECT e.id, CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN f.first_id = e.id THEN 1 ELSE 0 END) AS BIGINT)
               AS novel_shingles
           FROM e JOIN fst f USING (sh) GROUP BY e.id)
         SELECT d.doc_id,
           coalesce(pd.n_shingles, 0) AS n_shingles,
           coalesce(pd.novel_shingles, 0) AS novel_shingles,
           CAST(CASE WHEN coalesce(pd.n_shingles, 0) = 0 THEN 1000
                ELSE pd.novel_shingles * 1000 // pd.n_shingles END AS BIGINT)
             AS novelty_milli
         FROM documents d LEFT JOIN pd ON d.doc_id = pd.id
         ORDER BY d.doc_id""",

    // Positional 3-grams (1-based pos — displacement arithmetic is
    // position-origin-invariant), doc-frequency cap, islands trick.
    "q111_aligned_runs" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         kg AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(list_slice(toks, CAST(i AS INTEGER),
               CAST(i AS INTEGER) + 2), ' ') AS sh
           FROM (SELECT doc_id, toks,
                   unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS i
                 FROM tk)),
         hot AS (SELECT sh FROM kg GROUP BY sh
                 HAVING count(DISTINCT doc_id) > 100),
         f AS (SELECT * FROM kg WHERE sh NOT IN (SELECT sh FROM hot)),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.pos AS pos_a, a.pos - b.pos AS diff
                FROM f a JOIN f b ON a.sh = b.sh AND a.doc_id < b.doc_id),
         isl AS (SELECT id_a, id_b, diff,
             pos_a - row_number() OVER (PARTITION BY id_a, id_b, diff
               ORDER BY pos_a) AS island
           FROM pr),
         runs AS (SELECT id_a, id_b, diff, island, count(*) AS run
                  FROM isl GROUP BY 1, 2, 3, 4),
         best AS (SELECT id_a, id_b, CAST(max(run) AS BIGINT) AS run_kgrams
                  FROM runs GROUP BY 1, 2)
         SELECT id_a, id_b, run_kgrams,
           CAST(run_kgrams + 2 AS BIGINT) AS run_tokens
         FROM best WHERE run_kgrams >= 5 ORDER BY id_a, id_b""",

    "q112_cohort_retention" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
           FROM events),
         c AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY 1)
         SELECT cohort_day, CAST(day - cohort_day AS BIGINT) AS day_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
         FROM days JOIN c USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // q111's positional-gram + islands construction, self-joined at
    // positive displacement with the per-doc occurrence cap.
    "q114_self_repetition" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         kg AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(list_slice(toks, CAST(i AS INTEGER),
               CAST(i AS INTEGER) + 2), ' ') AS sh
           FROM (SELECT doc_id, toks,
                   unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS i
                 FROM tk)),
         hot AS (SELECT doc_id, sh FROM kg GROUP BY doc_id, sh
                 HAVING count(*) > 50),
         f AS (SELECT kg.doc_id, kg.pos, kg.sh FROM kg
               LEFT JOIN hot ON kg.doc_id = hot.doc_id AND kg.sh = hot.sh
               WHERE hot.sh IS NULL),
         pr AS (SELECT a.doc_id AS id, a.pos AS pos_a, b.pos - a.pos AS diff
                FROM f a JOIN f b
                  ON a.doc_id = b.doc_id AND a.sh = b.sh AND b.pos > a.pos),
         isl AS (SELECT id, diff,
             pos_a - row_number() OVER (PARTITION BY id, diff
               ORDER BY pos_a) AS island
           FROM pr),
         runs AS (SELECT id, diff, island, count(*) AS run
                  FROM isl GROUP BY 1, 2, 3),
         best AS (SELECT id, CAST(max(run) AS BIGINT) AS rep_run_kgrams
                  FROM runs GROUP BY 1)
         SELECT d.doc_id,
           coalesce(b.rep_run_kgrams, 0) AS rep_run_kgrams,
           CAST(CASE WHEN coalesce(b.rep_run_kgrams, 0) > 0
                THEN b.rep_run_kgrams + 2 ELSE 0 END AS BIGINT)
             AS rep_run_tokens
         FROM documents d LEFT JOIN best b ON d.doc_id = b.id
         ORDER BY d.doc_id""",

    // ln() (DuckDB log() is base-10); regr_* take (y, x) in both engines.
    "q115_zipf_fit" ->
      """WITH w AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
           FROM documents),
         c AS (SELECT w, count(*) AS cnt FROM w GROUP BY 1),
         top AS (SELECT w, cnt FROM c ORDER BY cnt DESC, w LIMIT 500),
         r AS (SELECT cnt,
             row_number() OVER (ORDER BY cnt DESC, w) AS rank FROM top)
         SELECT CAST(count(*) AS BIGINT) AS n_vocab,
           round(regr_slope(ln(cnt), ln(rank)), 6) AS zipf_slope,
           round(regr_intercept(ln(cnt), ln(rank)), 6) AS zipf_intercept,
           round(regr_r2(ln(cnt), ln(rank)), 6) AS zipf_r2
         FROM r""",

    // q43's slot/band mirrors for the estimate; raw-shingle overlap for
    // the exact side; everything integer-milli so the compare is exact.
    "q116_minhash_error" -> {
      val matchSum = (0 until 8)
        .map(i => s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $minhashCtes,
         cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                  FROM mbands a JOIN mbands b
                    ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id),
         est AS (SELECT c.id_a, c.id_b,
             CAST(($matchSum) * 125 AS BIGINT) AS est_milli
           FROM cand c JOIN sig sa ON sa.id = c.id_a
           JOIN sig sb ON sb.id = c.id_b),
         sz AS (SELECT id, CAST(len(sh_arr) AS BIGINT) AS n_sh FROM sh),
         inter AS (SELECT a.id AS id_a, b.id AS id_b,
             CAST(count(*) AS BIGINT) AS inter
           FROM e a JOIN e b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2),
         j AS (SELECT est.id_a, est.id_b, est.est_milli,
             coalesce(i.inter, 0) AS inter, za.n_sh AS n_a, zb.n_sh AS n_b
           FROM est LEFT JOIN inter i
             ON est.id_a = i.id_a AND est.id_b = i.id_b
           JOIN sz za ON za.id = est.id_a
           JOIN sz zb ON zb.id = est.id_b)
         SELECT id_a, id_b, est_milli,
           CAST(inter * 1000 // (n_a + n_b - inter) AS BIGINT) AS true_milli,
           CAST(abs(est_milli - inter * 1000 // (n_a + n_b - inter)) AS BIGINT)
             AS err_milli
         FROM j ORDER BY id_a, id_b"""
    },

    // The same md5 draw mirror as q80's split assignment, modulo 16.
    "q113_shard_balance" ->
      """WITH s AS (SELECT doc_id,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               % 16 AS shard,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks
           FROM documents),
         per AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_toks) AS BIGINT) AS n_toks
                 FROM s GROUP BY 1),
         tot AS (SELECT CAST(sum(n_toks) AS BIGINT) AS tot_toks FROM per)
         SELECT shard, n_docs, n_toks,
           n_toks * 16000 // tot_toks AS load_milli
         FROM per, tot ORDER BY shard""",

    "q108_dataset_card" -> {
      s"""WITH $qualityMilliCte,
         j AS (SELECT d.lang, d.source,
                 CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS n_toks,
                 q.quality_milli
               FROM documents d JOIN q USING (doc_id))
         SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_toks,
           CAST(sum(quality_milli) AS BIGINT) AS sum_quality_milli,
           CAST(sum(quality_milli) * 1000 // count(*) AS BIGINT)
             AS avg_quality_micro,
           CAST(GROUPING(lang, source) AS BIGINT) AS gid
         FROM j GROUP BY CUBE(lang, source)
         ORDER BY gid, lang NULLS FIRST, source NULLS FIRST"""
    },

    // q59's cell CTEs + the md5-order quota rank (unique ids → total
    // order, no tie ambiguity).
    "q107_cluster_balanced_sample" ->
      s"""WITH $clusterCellsCte,
         samp AS (SELECT vec_id, cell,
             row_number() OVER (PARTITION BY cell
               ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rank
           FROM corp)
         SELECT vec_id, cell, CAST(rank AS BIGINT) AS rank
         FROM samp WHERE rank <= 5 ORDER BY vec_id""",

    // Same md5-parity hyperplane literals as the q71/ANN mirrors; the
    // best match is a window argmax over (cosine DESC, index id DESC) —
    // the engine's max(struct) tie-break spelled independently.
    "q106_incremental_embedding" ->
      s"""WITH p AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
         n AS (SELECT vec_id, vec, norm, CAST($annSigExpr AS BIGINT) AS bucket FROM
                 (SELECT vec_id, vec, sqrt(list_dot_product(vec, vec)) AS norm
                  FROM p) WHERE norm > 0),
         bat AS (SELECT * FROM n WHERE vec_id % 10 >= 8),
         idx AS (SELECT * FROM n WHERE vec_id % 10 < 8),
         m AS (SELECT b.vec_id, i.vec_id AS iid,
                 round(list_dot_product(b.vec, i.vec) / (b.norm * i.norm), 6) AS cosine
               FROM bat b JOIN idx i ON b.bucket = i.bucket),
         f AS (SELECT * FROM m WHERE cosine >= 0.3),
         r AS (SELECT vec_id, cosine, iid,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY cosine DESC, iid DESC) AS rn,
                 count(*) OVER (PARTITION BY vec_id) AS n_index_matches
               FROM f)
         SELECT vec_id, n_index_matches, cosine AS best_cosine,
           iid AS best_index_id
         FROM r WHERE rn = 1 ORDER BY vec_id""",

    // row_number under the same (count desc, token) total order mirrors
    // the engine's TakeOrdered vocabulary cut exactly.
    "q105_oov_rate" ->
      """WITH tk AS (SELECT doc_id,
             unnest(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents),
         c AS (SELECT tok, count(*) AS n FROM tk GROUP BY tok),
         v AS (SELECT tok FROM (
                 SELECT tok, row_number() OVER (ORDER BY n DESC, tok) AS rn
                 FROM c) WHERE rn <= 1000)
         SELECT t.doc_id, count(*) AS n_toks,
           count(CASE WHEN v.tok IS NULL THEN 1 END) AS n_oov,
           (count(CASE WHEN v.tok IS NULL THEN 1 END) * 1000) // count(*)
             AS oov_milli
         FROM tk t LEFT JOIN v ON t.tok = v.tok
         GROUP BY t.doc_id ORDER BY t.doc_id""",

    // Window row_number mirror of the salted two-phase group rank; the
    // final ordering (quality desc, doc_id) is total, so the LIMIT cut is
    // deterministic in both engines.
    "q104_diversified_topk" ->
      s"""WITH $qualityMilliCte,
         j AS (SELECT q.doc_id, d.source, q.quality_milli
               FROM q JOIN documents d USING (doc_id)),
         r AS (SELECT doc_id, source, quality_milli,
                 row_number() OVER (PARTITION BY source
                   ORDER BY quality_milli DESC, doc_id) AS group_rank
               FROM j)
         SELECT doc_id, source, quality_milli, CAST(group_rank AS BIGINT) AS group_rank
         FROM r WHERE group_rank <= 10
         ORDER BY quality_milli DESC, doc_id LIMIT 100""",

    // Distinct counts on raw shingle STRINGS where the engine counts
    // distinct xxhash64 postings — equal barring a 64-bit collision (the
    // q42-family tolerance).
    "q103_source_diversity" ->
      s"""WITH $shinglesCte,
         j AS (SELECT e.id, e.sh, d.source
               FROM e JOIN documents d ON e.id = d.doc_id)
         SELECT source, count(*) AS n_shingles,
           count(DISTINCT sh) AS n_distinct_shingles,
           (count(DISTINCT sh) * 1000) // count(*) AS diversity_milli
         FROM j GROUP BY source ORDER BY source""",

    // The same portable CMS the engine builds: bucket(seed, tok) =
    // first-8-hex of md5('seed:tok') mod 1024 (the Draws idiom, seed
    // prefixed); counters = sums of exact counts; estimate = min over the
    // 4 counters.
    "q117_cms_error" ->
      """WITH w AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents),
         c AS (SELECT tok, count(*) AS cnt FROM w GROUP BY 1),
         sd AS (SELECT unnest(range(4)) AS seed),
         sb AS (SELECT c.tok, c.cnt, sd.seed,
             CAST('0x' || substring(md5(CAST(sd.seed AS VARCHAR) || ':' || c.tok), 1, 8)
               AS BIGINT) % 1024 AS bucket
           FROM c, sd),
         cms AS (SELECT seed, bucket, sum(cnt) AS total FROM sb GROUP BY 1, 2),
         top AS (SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 20),
         est AS (SELECT s.tok, min(m.total) AS est
                 FROM sb s JOIN cms m ON m.seed = s.seed AND m.bucket = s.bucket
                 JOIN top t ON t.tok = s.tok
                 GROUP BY 1)
         SELECT t.tok, CAST(t.cnt AS BIGINT) AS exact_cnt,
           CAST(e.est AS BIGINT) AS est_cnt,
           CAST(e.est - t.cnt AS BIGINT) AS overcount
         FROM top t JOIN est e ON e.tok = t.tok
         ORDER BY t.tok""",

    // q70's recursive component CTEs, rolled up twice: per-component size,
    // then the size histogram.
    "q118_dup_cluster_histogram" ->
      s"""WITH RECURSIVE $minhashCompCtes,
         sz AS (SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size
                FROM comp GROUP BY 1)
         SELECT cluster_size, count(*) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
         FROM sz GROUP BY 1 ORDER BY cluster_size""",

    // epoch_us on the naive UTC timestamp matches the engine's
    // TimeOps.epochMicros under its pinned UTC session (the q93 contract).
    "q119_inter_event_gaps" ->
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
         GROUP BY 1 ORDER BY 1""",

    "q120_user_features" ->
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
         FROM g GROUP BY user_id ORDER BY user_id""",

    // Same replace/length and split mirrors as the quality CTE; rule
    // comparisons are integer cross-multiplications, so no rounding
    // boundary exists for the engines to disagree on.
    "q121_gopher_flags" -> {
      val stop = langScoreSql(Seq("the", "a", "of", "and", "is"))
      s"""WITH f AS (SELECT source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS nt,
             CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS nw,
             CAST(length(text) AS BIGINT) AS nc,
             CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS pu,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS al,
             CAST($stop AS BIGINT) AS stop
           FROM documents),
         r AS (SELECT source,
             CASE WHEN nt >= 10 AND nt <= 5000 THEN 1 ELSE 0 END AS r_len,
             CASE WHEN nw >= nt * 3 AND nw <= nt * 12 THEN 1 ELSE 0 END AS r_wordlen,
             CASE WHEN pu * 10 <= nc THEN 1 ELSE 0 END AS r_sym,
             CASE WHEN stop >= 2 THEN 1 ELSE 0 END AS r_stop,
             CASE WHEN al * 2 >= nw THEN 1 ELSE 0 END AS r_alpha
           FROM f)
         SELECT source, count(*) AS n_docs,
           CAST(sum(r_len * r_wordlen * r_sym * r_stop * r_alpha) AS BIGINT) AS n_pass,
           CAST(count(*) - sum(r_len) AS BIGINT) AS fail_len,
           CAST(count(*) - sum(r_wordlen) AS BIGINT) AS fail_wordlen,
           CAST(count(*) - sum(r_sym) AS BIGINT) AS fail_sym,
           CAST(count(*) - sum(r_stop) AS BIGINT) AS fail_stop,
           CAST(count(*) - sum(r_alpha) AS BIGINT) AS fail_alpha,
           CAST((sum(r_len * r_wordlen * r_sym * r_stop * r_alpha) * 1000)
             // count(*) AS BIGINT) AS pass_milli
         FROM r GROUP BY source ORDER BY source"""
    },

    "q122_normalized_dedup" ->
      """WITH f AS (SELECT source,
             md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS raw_fp,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_fp
           FROM documents)
         SELECT source, count(*) AS n_docs,
           CAST(count(DISTINCT raw_fp) AS BIGINT) AS n_raw_distinct,
           CAST(count(DISTINCT norm_fp) AS BIGINT) AS n_norm_distinct,
           CAST(count(DISTINCT raw_fp) - count(DISTINCT norm_fp) AS BIGINT)
             AS extra_dups
         FROM f GROUP BY source ORDER BY source""",

    // q46's cosine mirror with the label-differs predicate and the maxSim
    // cap; norm > 0 on both sides (cosine undefined at zero).
    "q123_hard_negatives" ->
      """WITH p AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vec
           FROM embeddings),
         n AS (SELECT vec_id, label, vec, norm FROM
                 (SELECT vec_id, label, vec,
                    sqrt(list_dot_product(vec, vec)) AS norm FROM p)
               WHERE norm > 0),
         q AS (SELECT * FROM n WHERE vec_id % 20 = 0),
         sims AS (SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
             c.label AS corpus_label,
             round(list_dot_product(q.vec, c.vec) / (q.norm * c.norm), 6) AS cosine
           FROM n c, q WHERE q.label <> c.label),
         f AS (SELECT * FROM sims WHERE cosine <= 0.95),
         r AS (SELECT query_id, corpus_id, corpus_label, cosine,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, corpus_id) AS "rank" FROM f)
         SELECT query_id, corpus_id, corpus_label, cosine, "rank"
         FROM r WHERE "rank" <= 3 ORDER BY query_id, "rank"""",

    // Distinct raw shingles per suite where the engine uses xxhash64
    // postings — counts equal barring a 64-bit collision (q103's
    // tolerance).
    "q124_suite_overlap" ->
      s"""WITH $shinglesCte,
         su AS (SELECT DISTINCT 'suite' || CAST(id % 3 AS VARCHAR) AS suite, sh
                FROM e WHERE id % 50 = 0),
         sz AS (SELECT suite, CAST(count(*) AS BIGINT) AS n FROM su GROUP BY 1),
         p AS (SELECT a.suite AS suite_a, b.suite AS suite_b,
                 CAST(count(*) AS BIGINT) AS shared
               FROM su a JOIN su b ON a.sh = b.sh AND a.suite < b.suite
               GROUP BY 1, 2)
         SELECT suite_a, suite_b, shared, za.n AS n_a, zb.n AS n_b,
           CAST(shared * 1000 // least(za.n, zb.n) AS BIGINT)
             AS containment_milli
         FROM p JOIN sz za ON za.suite = p.suite_a
         JOIN sz zb ON zb.suite = p.suite_b
         ORDER BY suite_a, suite_b""",

    // Per-dim means are EXACT integer micro (floor((v+1)·2²⁴) lossless on
    // float components, offset keeps the // dividend positive) — no
    // order-dependent double sum reaches the compare.
    "q125_centroid_shift" ->
      """WITH x AS (SELECT vec_id, label, vec_id % 2 AS half,
             generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(CAST(embedding AS DOUBLE[])) AS v
           FROM embeddings),
         cent AS (SELECT label, dim, half,
             CAST(sum(CAST(floor(greatest(v + 1.0, 0.0) * 16777216.0) AS BIGINT))
               * 1000000 // (count(*) * 16777216) - 1000000 AS BIGINT)
               AS c_micro
           FROM x GROUP BY 1, 2, 3),
         j AS (SELECT a.label, a.dim, a.c_micro AS ca, b.c_micro AS cb
               FROM cent a JOIN cent b
                 ON a.label = b.label AND a.dim = b.dim
                 AND a.half = 0 AND b.half = 1)
         SELECT label, count(*) AS n_dims,
           CAST(sum((ca - cb) * (ca - cb)) AS BIGINT) AS shift_micro2
         FROM j GROUP BY label ORDER BY label""",

    // Raw-shingle mirror of the capped inverted-index pair core (q42's
    // tolerance: counts on strings vs 64-bit hashes).
    "q126_source_copy_matrix" ->
      s"""WITH $shinglesCte,
         hot AS (SELECT sh FROM e GROUP BY sh HAVING count(*) > 100),
         f AS (SELECT id, sh FROM e LEFT JOIN hot USING (sh)
               WHERE hot.sh IS NULL),
         p AS (SELECT a.id AS ia, b.id AS ib
               FROM f a JOIN f b ON a.sh = b.sh AND a.id < b.id
               GROUP BY 1, 2 HAVING count(*) >= 8),
         m AS (SELECT least(da.source, db.source) AS source_a,
                 greatest(da.source, db.source) AS source_b
               FROM p JOIN documents da ON da.doc_id = p.ia
               JOIN documents db ON db.doc_id = p.ib)
         SELECT source_a, source_b, count(*) AS n_pairs
         FROM m GROUP BY 1, 2 ORDER BY 1, 2""",

    // q76's 12-token block construction, rolled up to the top-20 hot
    // segments under the (count desc, text) total order.
    "q127_boilerplate_segments" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             FROM documents),
         lf AS (SELECT doc_id,
             list_transform(range(1, CAST(ceil(len(toks) / 12.0) AS INT) + 1),
               i -> array_to_string(list_slice(toks, (i - 1) * 12 + 1, (i - 1) * 12 + 12), ' ')) AS lns
           FROM tk),
         segs AS (SELECT doc_id, unnest(lns) AS seg FROM lf),
         c AS (SELECT seg, count(*) AS n_occ,
                 CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
               FROM segs GROUP BY 1)
         SELECT seg AS segment, n_occ, n_docs
         FROM c ORDER BY n_occ DESC, seg LIMIT 20""",

    // 1-based generate_subscripts vs the engine's 0-based posexplode —
    // both consistent within their own engine, and the pos+1 adjacency
    // join only needs internal consistency.
    "q128_bigram_entropy" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
             FROM documents),
         p AS (SELECT doc_id, unnest(toks) AS w,
                 generate_subscripts(toks, 1) AS pos FROM tk),
         cab AS (SELECT x.w AS a, y.w AS b, count(*) AS c_ab
                 FROM p x JOIN p y
                   ON x.doc_id = y.doc_id AND y.pos = x.pos + 1
                 GROUP BY 1, 2),
         ca AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM cab GROUP BY 1)
         SELECT CAST(sum(c_ab) AS BIGINT) AS n_bigrams,
           CAST(count(DISTINCT cab.a) AS BIGINT) AS n_contexts,
           count(*) AS n_distinct_bigrams,
           CAST(sum(CAST(floor(c_ab * ln(CAST(c_a AS DOUBLE) / c_ab)
               * 1000000) AS BIGINT)) // sum(c_ab) AS BIGINT)
             AS cond_entropy_micronats
         FROM cab JOIN ca USING (a)""",

    // q117's CMS construction per event-hour window; the cells=4 guard is
    // the sparse-counter zero law (an absent counter row is a zero).
    "q129_windowed_heavy_hitters" ->
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
         ORDER BY ex.window_start, ex.event_type""",

    "q130_lang_confusion" -> {
      val scores = TextOps.LangMarkers.map { case (l, _) => l -> s"s_$l" }
      val scoreDefs = TextOps.LangMarkers.map { case (l, ws) =>
        s"${langScoreSql(ws)} AS s_$l" }.mkString(", ")
      val mx = scores.map(_._2).mkString("greatest(", ", ", ")")
      val pred = scores.map { case (l, s) => s"WHEN $s = $mx THEN '$l'" }
        .mkString("CASE ", " ", " END")
      s"""WITH sc AS (SELECT lang, $scoreDefs FROM documents)
         SELECT lang, $pred AS pred_lang, count(*) AS n_docs
         FROM sc GROUP BY 1, 2 ORDER BY 1, 2"""
    },

    "q131_dup_quality_gap" -> {
      s"""WITH $qualityMilliCte,
         d AS (SELECT doc_id, source,
                 md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
               FROM documents),
         g AS (SELECT fp, count(*) AS n FROM d GROUP BY 1),
         j AS (SELECT d.source, q.quality_milli,
                 CASE WHEN g.n > 1 THEN 1 ELSE 0 END AS dup
               FROM d JOIN g USING (fp) JOIN q USING (doc_id))
         SELECT source,
           CAST(sum(dup) AS BIGINT) AS n_dup_docs,
           CAST(count(*) - sum(dup) AS BIGINT) AS n_uniq_docs,
           CAST(coalesce(sum(CASE WHEN dup = 1 THEN quality_milli END)
             // nullif(sum(dup), 0), -1) AS BIGINT) AS q_dup_milli,
           CAST(coalesce(sum(CASE WHEN dup = 0 THEN quality_milli END)
             // nullif(count(*) - sum(dup), 0), -1) AS BIGINT) AS q_uniq_milli
         FROM j GROUP BY source ORDER BY source"""
    },

    "q132_props_extract" ->
      """WITH e AS (SELECT event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
           FROM events)
         SELECT event_type, count(*) AS n_events,
           count(k) AS n_with_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k,
           CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k
         FROM e GROUP BY 1 ORDER BY 1""",

    // df on raw shingle strings where the engine counts 8-byte hashes —
    // the q42-family collision tolerance.
    "q133_shingle_df_histogram" ->
      s"""WITH $shinglesCte,
         dfc AS (SELECT sh, count(*) AS df FROM e GROUP BY 1),
         b AS (SELECT df,
             CASE WHEN df = 1 THEN 1 WHEN df = 2 THEN 2
                  WHEN df <= 10 THEN 3 WHEN df <= 100 THEN 4 ELSE 5 END AS bucket_id,
             CASE WHEN df = 1 THEN '1' WHEN df = 2 THEN '2'
                  WHEN df <= 10 THEN '3-10' WHEN df <= 100 THEN '11-100'
                  ELSE '>100' END AS df_band
           FROM dfc)
         SELECT bucket_id, df_band, count(*) AS n_shingles,
           CAST(sum(df) AS BIGINT) AS n_postings
         FROM b GROUP BY 1, 2 ORDER BY bucket_id""",

    "q134_shipping_priority" ->
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
         ORDER BY revenue DESC, o_orderkey LIMIT 10""",

    // q43's band CTEs → distinct pair set → symmetric degree counts, with
    // degree-0 docs folded in via the left join.
    "q135_dup_graph_degrees" ->
      s"""WITH $minhashCtes,
         cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                  FROM mbands a JOIN mbands b
                    ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id),
         u AS (SELECT id_a AS id FROM cand UNION ALL SELECT id_b FROM cand),
         deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM u GROUP BY 1),
         z AS (SELECT d.doc_id, coalesce(g.degree, 0) AS degree
               FROM documents d LEFT JOIN deg g ON g.id = d.doc_id)
         SELECT degree, count(*) AS n_docs
         FROM z GROUP BY 1 ORDER BY degree""",

    "q136_token_budget_plan" ->
      """WITH per AS (SELECT source, count(*) AS n_docs,
             CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_toks
           FROM documents GROUP BY 1),
         n AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM per)
         SELECT source, n_docs, n_toks,
           CAST(1000000 // ns AS BIGINT) AS target_toks,
           CAST((1000000 // ns) * 1000 // n_toks AS BIGINT) AS repetition_milli
         FROM per, n ORDER BY source""",

    // q42's capped truth pairs (integer-milli Jaccard) left-joined to
    // q43's band candidates, rolled up per band.
    "q137_lsh_recall_curve" ->
      s"""WITH $minhashCtes,
         cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                  FROM mbands a JOIN mbands b
                    ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id),
         ef AS (SELECT * FROM e WHERE sh NOT IN
                  (SELECT sh FROM e GROUP BY sh HAVING count(*) > 100)),
         p AS (SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
                 count(*) AS inter
               FROM ef a JOIN ef b ON a.sh = b.sh AND a.id < b.id
               GROUP BY 1, 2, 3, 4),
         t AS (SELECT id_a, id_b,
                 CAST(inter * 1000 // (n_a + n_b - inter) AS BIGINT) AS jm
               FROM p WHERE inter * 1000 // (n_a + n_b - inter) >= 50),
         j AS (SELECT t.jm // 100 AS band,
                 CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS det
               FROM t LEFT JOIN cand c
                 ON c.id_a = t.id_a AND c.id_b = t.id_b)
         SELECT CAST(band AS BIGINT) AS band, count(*) AS n_true,
           CAST(sum(det) AS BIGINT) AS n_detected,
           CAST(sum(det) * 1000 // count(*) AS BIGINT) AS recall_milli
         FROM j GROUP BY band ORDER BY band""",

    "q138_small_qty_parts" ->
      """WITH a AS (SELECT l_partkey, sum(l_quantity) / count(*) AS avgq
                    FROM lineitem GROUP BY 1),
         f AS (SELECT l.l_partkey, l.l_extendedprice
               FROM lineitem l JOIN a ON l.l_partkey = a.l_partkey
               WHERE l.l_quantity < 0.5 * a.avgq)
         SELECT p.p_brand, count(*) AS n_small_lines,
           CAST(sum(CAST(floor(f.l_extendedprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) / 100.0 AS small_revenue
         FROM f JOIN part p ON f.l_partkey = p.p_partkey
         GROUP BY 1 ORDER BY 1""",

    "q139_supplier_nations" ->
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
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q140_event_transitions" ->
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
         ORDER BY c.from_type, c.to_type""",

    // NULLS FIRST pins DuckDB to Spark's ascending null order on the
    // outer side's null click_id.
    "q141_interval_join_outer" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts
             FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts AS c_ts, event_id AS click_id
             FROM events WHERE event_type = 'click')
         SELECT p.purchase_id, p.user_id, c.click_id
         FROM p LEFT JOIN c ON c.user_id = p.user_id
           AND c.c_ts >= p.p_ts - INTERVAL 10 MINUTE
           AND c.c_ts <= p.p_ts
         ORDER BY purchase_id, click_id NULLS FIRST""",

    // The same nearest-rank cut definition over the value histogram:
    // cut(p) = min value with cum_le >= ceil(p*n/100), all integer.
    "q142_winsorized_quality" ->
      s"""WITH $qualityMilliCte,
         j AS (SELECT d.source, q.quality_milli AS v
               FROM documents d JOIN q USING (doc_id)),
         h AS (SELECT source, v, count(*) AS n FROM j GROUP BY 1, 2),
         c AS (SELECT source, v, n,
                 sum(n) OVER (PARTITION BY source ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS cum_le,
                 sum(n) OVER (PARTITION BY source) AS ng
               FROM h),
         cuts AS (SELECT source,
             CAST(min(CASE WHEN cum_le >= (5 * ng + 99) // 100 THEN v END)
               AS BIGINT) AS p5,
             CAST(min(CASE WHEN cum_le >= (95 * ng + 99) // 100 THEN v END)
               AS BIGINT) AS p95
           FROM c GROUP BY 1)
         SELECT j.source, count(*) AS n_docs,
           min(cuts.p5) AS p5, min(cuts.p95) AS p95,
           CAST(sum(j.v) // count(*) AS BIGINT) AS mean_q_milli,
           CAST(sum(greatest(cuts.p5, least(cuts.p95, j.v))) // count(*)
             AS BIGINT) AS wins_mean_q_milli
         FROM j JOIN cuts USING (source)
         GROUP BY 1 ORDER BY 1""",

    "q143_large_orders" ->
      """WITH tot AS (SELECT l_orderkey, sum(l_quantity) AS tq
                      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250)
         SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS total_price, round(tq, 2) AS tot_qty
         FROM orders JOIN tot ON o_orderkey = tot.l_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY total_price DESC, o_orderkey LIMIT 100""",

    "q144_user_drawdown" ->
      """WITH p AS (SELECT user_id, value,
             max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS peak
           FROM events)
         SELECT user_id, count(*) AS n_events,
           round(max(peak), 6) AS peak,
           round(max((peak - value) / peak), 6) AS max_drawdown
         FROM p GROUP BY 1 ORDER BY user_id""",

    // Same canonical string forms as the Spark side (zero-padded
    // integers sort numerically; wall-clock text sorts chronologically;
    // floor(x*100+0.5) is HALF_UP on the identical double in both
    // engines) — so min/max/distinct agree byte-for-byte.
    "q145_column_profile" ->
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
         FROM l GROUP BY 1 ORDER BY 1""",

    "q146_pagerank" -> pageRankSql,

    // Cast to double BEFORE any arithmetic (float32 → float64 is exact),
    // then the identical quantize/reconstruct float64 expression — only
    // the per-vec/per-label sums are order-dependent and they sit under
    // the terminal round(6).
    "q147_embedding_quantize" ->
      """WITH ex0 AS (SELECT vec_id, label, unnest(embedding) AS vf,
             unnest(range(len(embedding))) AS i FROM embeddings),
         ex AS (SELECT vec_id, label, CAST(vf AS DOUBLE) AS v, i FROM ex0),
         dims AS (SELECT i, min(v) AS mn, max(v) AS mx FROM ex GROUP BY 1),
         er AS (SELECT e.vec_id, e.label,
             sum(CASE WHEN d.mx = d.mn THEN 0
                 ELSE pow(e.v - (d.mn + floor((e.v - d.mn) * 255 / (d.mx - d.mn) + 0.5)
                   * (d.mx - d.mn) / 255), 2) END) AS sse
           FROM ex e JOIN dims d USING (i) GROUP BY 1, 2)
         SELECT label, count(*) AS n_vecs,
           CAST(sum(CAST(floor(sse * 1000000000) AS BIGINT)) AS BIGINT)
             AS total_sse_nano,
           round(max(sse), 6) AS max_sse
         FROM er GROUP BY 1 ORDER BY label""",

    "q148_last_touch" ->
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
         FROM p WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1""",

    // The carried value is exact integer milli-of-centi (see the engine
    // comment): a float avg hit a rounding boundary at sf0.1.
    "q149_resample_ffill" ->
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
         FROM j ORDER BY event_type, hour""",

    // Integer-exact mirror: milli-of-centi daily means, exact long OLS
    // sums, sign-split truncated division (matches Spark's div).
    "q150_trend_slope" ->
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
         FROM ab ORDER BY event_type""",

    // Same nearest-rank cut definition as q142 over the centi-scaled
    // price histogram (floor(x*100+0.5) = HALF_UP on the identical
    // double in both engines).
    "q151_price_quartiles" ->
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
         GROUP BY 1 ORDER BY 1""",

    // q135's band candidate pairs × q80's md5 split assignment, rolled
    // up per unordered split pair.
    "q152_split_leakage" ->
      s"""WITH $minhashCtes,
         cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                  FROM mbands a JOIN mbands b
                    ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id),
         sp AS (SELECT doc_id,
             CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % 100 < 90 THEN 'train'
                  WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % 100 < 95 THEN 'val'
                  ELSE 'test' END AS split
           FROM documents),
         j AS (SELECT least(a.split, b.split) AS split_lo,
                 greatest(a.split, b.split) AS split_hi
               FROM cand JOIN sp a ON a.doc_id = cand.id_a
                         JOIN sp b ON b.doc_id = cand.id_b)
         SELECT split_lo, split_hi, count(*) AS n_pairs,
           CASE WHEN split_lo <> split_hi THEN 1 ELSE 0 END AS is_leak
         FROM j GROUP BY 1, 2 ORDER BY 1, 2""",

    // Global quality quintile from the value histogram (cum_lt = rows
    // strictly below), md5-draw shuffle within bucket, top-100.
    "q153_curriculum_order" ->
      s"""WITH $qualityMilliCte,
         h AS (SELECT quality_milli AS qv, count(*) AS n FROM q GROUP BY 1),
         c AS (SELECT qv, n,
             coalesce(sum(n) OVER (ORDER BY qv
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_lt,
             sum(n) OVER () AS ng
           FROM h),
         b AS (SELECT qv,
             CAST(least(4, (5 * cum_lt) // ng) AS BIGINT) AS bucket FROM c),
         j AS (SELECT q.doc_id, b.bucket, q.quality_milli AS q,
             CAST('0x' || substring(md5(CAST(q.doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) % 1000000000 AS draw
           FROM q JOIN b ON b.qv = q.quality_milli)
         SELECT doc_id, bucket, q, draw FROM j
         ORDER BY bucket DESC, draw, doc_id LIMIT 100""",

    "q154_returned_revenue" ->
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
         ORDER BY lost_revenue DESC, c_custkey LIMIT 20""",

    "q155_key_skew" ->
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
         FROM st, cuts, tl""",

    // The division runs on the µs DIFFERENCE (floor once), mirroring the
    // engine exactly.
    "q156_time_to_convert" ->
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
         SELECT n_converting, p25, p50, p75, p90, max_sec FROM st, cuts""",

    // The MinHash band-candidate pair set FULL JOINed to the SimHash
    // Hamming-verified pair set, bucketed by membership.
    "q157_method_agreement" ->
      s"""WITH $minhashCtes, $simhashCtes,
         mc AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                FROM mbands a JOIN mbands b
                  ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id),
         scand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                   FROM bands a JOIN bands b
                     ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id),
         sc AS (SELECT c.id_a, c.id_b
                FROM scand c JOIN sim sa ON sa.id = c.id_a
                             JOIN sim sb ON sb.id = c.id_b
                WHERE bit_count(xor(sa.sim, sb.sim)) <= 3),
         j AS (SELECT CASE
                 WHEN m.id_a IS NOT NULL AND s.id_a IS NOT NULL THEN 'both'
                 WHEN m.id_a IS NOT NULL THEN 'minhash_only'
                 ELSE 'simhash_only' END AS method
               FROM mc m FULL JOIN sc s
                 ON m.id_a = s.id_a AND m.id_b = s.id_b)
         SELECT method, count(*) AS n_pairs FROM j
         GROUP BY 1 ORDER BY method""",

    // Boundary trigrams use the same md5-draw idiom as the engine
    // (content-defined mod-16), chunk ids are the strictly-preceding
    // boundary count, chunk hashes are md5 of the position-ordered text.
    "q158_cdc_chunk_dedup" ->
      """WITH tk AS (SELECT doc_id,
             unnest(string_split_regex(trim(text), '\s+')) AS tok,
             unnest(range(len(string_split_regex(trim(text), '\s+')))) AS pos
           FROM documents),
         g AS (SELECT doc_id, pos, tok,
             lag(tok, 1) OVER w AS t1, lag(tok, 2) OVER w AS t2
           FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         b AS (SELECT doc_id, pos, tok,
             CASE WHEN pos >= 2 AND CAST('0x' || substring(
                 md5(t2 || ' ' || t1 || ' ' || tok), 1, 8) AS BIGINT) % 16 = 0
               THEN 1 ELSE 0 END AS is_b
           FROM g),
         ch AS (SELECT doc_id, pos, tok,
             coalesce(sum(is_b) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
           FROM b),
         chunks AS (SELECT doc_id, chunk_id,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS ch_hash,
             count(*) AS n_toks
           FROM ch GROUP BY 1, 2),
         mc AS (SELECT CAST(max(cnt) AS BIGINT) AS max_chunk_copies
                FROM (SELECT ch_hash, count(*) AS cnt FROM chunks GROUP BY 1))
         SELECT CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(DISTINCT ch_hash) AS BIGINT) AS n_distinct,
           CAST(count(DISTINCT ch_hash) * 1000000 // count(*) AS BIGINT)
             AS distinct_ppm,
           CAST(sum(n_toks) * 1000 // count(*) AS BIGINT)
             AS avg_chunk_toks_milli,
           min(mc.max_chunk_copies) AS max_chunk_copies
         FROM chunks, mc""",

    "q159_join_size_estimate" ->
      """WITH pk AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
         tot AS (SELECT CAST(sum(n * n) AS BIGINT) AS total_pairs FROM pk)
         SELECT user_id, CAST(n AS BIGINT) AS n,
           CAST(n * n AS BIGINT) AS contrib, total_pairs,
           CAST(n * n * 1000000 // total_pairs AS BIGINT) AS share_ppm
         FROM pk, tot ORDER BY contrib DESC, user_id LIMIT 5""",

    // Independent formulation: rank windows with the same composite
    // tiebreaks select the identical rows the engine's max_by picks.
    "q160_argmax_join" ->
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
         ORDER BY c_custkey LIMIT 50""",

    "q161_rolling_wau" ->
      """WITH pairs AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
           FROM events),
         bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM pairs),
         ex AS (SELECT p.user_id, p.day + CAST(o.o AS INTEGER) AS d
                FROM pairs p, (SELECT unnest(range(0, 7)) AS o) o)
         SELECT d, count(DISTINCT user_id) AS wau
         FROM ex, bounds WHERE d >= d0 AND d <= d1
         GROUP BY d ORDER BY d""",

    "q162_ship_priority_mix" ->
      """SELECT date_trunc('month', l_shipdate) AS ship_month,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 0 ELSE 1 END) AS BIGINT) AS n_low,
           CAST(sum(date_diff('day', CAST(o_orderdate AS DATE),
               CAST(l_shipdate AS DATE))) * 1000 // count(*) AS BIGINT)
             AS delay_days_milli
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY ship_month""",

    "q163_event_trigrams" ->
      """WITH g AS (SELECT user_id, event_type,
             lag(event_type, 1) OVER w AS t1,
             lag(event_type, 2) OVER w AS t2
           FROM events WINDOW w AS (PARTITION BY user_id
             ORDER BY ts, event_id)),
         m AS (SELECT user_id, t2 || '>' || t1 || '>' || event_type AS motif
               FROM g WHERE t2 IS NOT NULL)
         SELECT motif, count(*) AS n, count(DISTINCT user_id) AS n_users
         FROM m GROUP BY 1 ORDER BY n DESC, motif LIMIT 20""",

    "q164_forecast_revenue" ->
      """SELECT count(*) AS n_lines,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
             * CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS BIGINT)
             / 10000.0 AS revenue_increase
         FROM lineitem
         WHERE year(l_shipdate) = 1996
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24""",

    "q165_customer_distribution" ->
      """WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY 1)
         SELECT c_count, count(*) AS custdist FROM co
         GROUP BY 1 ORDER BY custdist DESC, c_count DESC""",

    "q166_promo_share" ->
      """WITH e AS (SELECT l_shipdate, p_type,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
               * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS rev_e4
           FROM lineitem JOIN part ON l_partkey = p_partkey)
         SELECT date_trunc('month', l_shipdate) AS ship_month,
           round(CAST(CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_e4
               ELSE 0 END) AS BIGINT) AS DOUBLE)
             / CAST(sum(rev_e4) AS BIGINT), 6) AS promo_share,
           CAST(sum(rev_e4) AS BIGINT) / 10000.0 AS total_revenue
         FROM e GROUP BY 1 ORDER BY ship_month""",

    // Fingerprint keepers × the recursive MinHash component keepers —
    // each doc lands in exactly one stage; token mass per stage.
    "q167_dedup_savings" ->
      s"""WITH RECURSIVE $minhashCompCtes,
         b AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_toks,
             md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
           FROM documents),
         fpk AS (SELECT fp, min(doc_id) AS fp_keep FROM b GROUP BY 1),
         ck AS (SELECT comp, min(doc_id) AS comp_keep FROM comp GROUP BY 1),
         st AS (SELECT b.doc_id, b.n_toks,
             CASE WHEN b.doc_id <> fpk.fp_keep THEN 'exact_dropped'
                  WHEN b.doc_id <> ck.comp_keep THEN 'near_dropped'
                  ELSE 'kept' END AS stage
           FROM b JOIN fpk USING (fp)
           JOIN comp ON comp.doc_id = b.doc_id
           JOIN ck USING (comp))
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN stage = 'exact_dropped' THEN n_toks ELSE 0 END)
             AS BIGINT) AS exact_dropped_tokens,
           CAST(sum(CASE WHEN stage = 'near_dropped' THEN n_toks ELSE 0 END)
             AS BIGINT) AS near_dropped_tokens,
           CAST(sum(CASE WHEN stage = 'kept' THEN n_toks ELSE 0 END)
             AS BIGINT) AS kept_tokens,
           CAST(sum(CASE WHEN stage = 'kept' THEN n_toks ELSE 0 END)
             * 1000000 // sum(n_toks) AS BIGINT) AS kept_ppm
         FROM st""",

    // q81's md5-ordered cumsum packing, rolled up per bin.
    "q168_pack_efficiency" ->
      """WITH w AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_toks,
             md5(CAST(doc_id AS VARCHAR)) AS k
           FROM documents),
         c AS (SELECT doc_id, n_toks,
             CAST(sum(n_toks) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)
                  - n_toks AS BIGINT) AS bef
           FROM w),
         bins AS (SELECT bef // 2048 AS bin, CAST(sum(n_toks) AS BIGINT) AS fill
                  FROM c GROUP BY 1)
         SELECT CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(fill) AS BIGINT) AS total_tokens,
           CAST(sum(fill) * 1000 // (count(*) * 2048) AS BIGINT)
             AS mean_fill_milli,
           min(fill) AS min_fill, max(fill) AS max_fill,
           CAST(sum(CASE WHEN fill < 1844 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_under_90pct
         FROM bins""",

    // Same md5 shard draw as q113 (mod 16), per-shard source entropy in
    // nats with ln only under the terminal round.
    "q169_shard_mixing" ->
      """WITH sh AS (SELECT doc_id, source,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) % 16 AS shard
           FROM documents),
         cnt AS (SELECT shard, source, count(*) AS n FROM sh GROUP BY 1, 2),
         tot AS (SELECT shard, CAST(sum(n) AS BIGINT) AS tot,
             count(*) AS n_sources FROM cnt GROUP BY 1)
         SELECT cnt.shard, min(tot.tot) AS n_docs,
           min(tot.n_sources) AS n_sources,
           round(-sum((CAST(cnt.n AS DOUBLE) / tot.tot)
             * ln(CAST(cnt.n AS DOUBLE) / tot.tot)), 6) AS source_entropy
         FROM cnt JOIN tot USING (shard)
         GROUP BY 1 ORDER BY cnt.shard""",

    "q170_greedy_cover" -> greedyCoverSql,

    // q43's candidates LEFT JOIN the q42 capped truth core; a missing or
    // sub-threshold truth row is a false positive.
    "q171_lsh_precision" ->
      s"""WITH $minhashCtes,
         cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                  FROM mbands a JOIN mbands b
                    ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id),
         ef AS (SELECT * FROM e WHERE sh NOT IN
                  (SELECT sh FROM e GROUP BY sh HAVING count(*) > 100)),
         pp AS (SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a,
                 b.n_sh AS n_b, count(*) AS inter
               FROM ef a JOIN ef b ON a.sh = b.sh AND a.id < b.id
               GROUP BY 1, 2, 3, 4),
         tt AS (SELECT id_a, id_b,
                 CAST(inter * 1000 // (n_a + n_b - inter) AS BIGINT) AS jm
               FROM pp)
         SELECT CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN tt.jm >= 500 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_500,
           CAST(sum(CASE WHEN tt.jm >= 300 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_300,
           CAST(sum(CASE WHEN tt.jm >= 500 THEN 1 ELSE 0 END) * 1000
             // count(*) AS BIGINT) AS precision500_milli
         FROM cand LEFT JOIN tt USING (id_a, id_b)""",

    "q172_twap" ->
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
         GROUP BY 1, 2 ORDER BY event_type, day""",

    "q173_keyword_search" ->
      """WITH tk AS (SELECT doc_id,
             unnest(string_split_regex(trim(text), '\s+')) AS w
           FROM documents),
         tf AS (SELECT doc_id, w, count(*) AS tf FROM tk
                WHERE w IN ('spark', 'vector', 'stream') GROUP BY 1, 2),
         df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         sc AS (SELECT tf.doc_id,
             CAST(sum(CAST(floor(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df)
               * 1000000) AS BIGINT)) AS BIGINT) AS score_micro,
             count(*) AS n_terms_hit, CAST(sum(tf.tf) AS BIGINT) AS total_tf
           FROM tf JOIN df USING (w) CROSS JOIN n GROUP BY 1)
         SELECT doc_id, score_micro, n_terms_hit, total_tf FROM sc
         ORDER BY score_micro DESC, doc_id LIMIT 10""",

    "q174_lang_margin" -> {
      val scoreDefs = TextOps.LangMarkers.map { case (l, ws) =>
        s"${langScoreSql(ws)} AS s_$l" }.mkString(", ")
      val names = TextOps.LangMarkers.map(_._1)
      val mx = names.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val pred = names.map(l => s"WHEN s_$l = $mx THEN '$l'")
        .mkString("CASE ", " ", " END")
      val lst = names.map(l => s"CAST(s_$l AS BIGINT)").mkString("[", ", ", "]")
      s"""WITH sc AS (SELECT doc_id, $scoreDefs FROM documents),
         p AS (SELECT doc_id, $pred AS pred_lang,
             list_sort($lst, 'DESC') AS ss FROM sc),
         m AS (SELECT pred_lang, ss[1] - ss[2] AS margin FROM p)
         SELECT pred_lang, count(*) AS n_docs,
           CAST(sum(margin) * 1000 // count(*) AS BIGINT) AS mean_margin_milli,
           CAST(sum(CASE WHEN margin = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ambiguous
         FROM m GROUP BY 1 ORDER BY 1"""
    },

    // Doubled tie-averaged ranks (2·cum_lt + cnt + 1) off the value
    // histograms; HUGEINT sums; sqrt only on the final scalars.
    "q175_spearman" ->
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
         FROM s""",

    "q176_mutual_info" ->
      """WITH cells AS (SELECT lang, source, count(*) AS n
                        FROM documents GROUP BY 1, 2),
         nl AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nl
                FROM cells GROUP BY 1),
         ns AS (SELECT source, CAST(sum(n) AS BIGINT) AS ns
                FROM cells GROUP BY 1),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells),
         mi AS (SELECT CAST(sum(cells.n) AS BIGINT) AS n_docs,
             round(sum((CAST(cells.n AS DOUBLE) / nn)
               * ln((CAST(cells.n AS DOUBLE) * nn)
                    / (CAST(nl.nl AS DOUBLE) * ns.ns))), 6) AS mi_nats
           FROM cells JOIN nl USING (lang) JOIN ns USING (source)
           CROSS JOIN tot),
         hl AS (SELECT round(-sum((CAST(nl AS DOUBLE) / nn)
               * ln(CAST(nl AS DOUBLE) / nn)), 6) AS h_lang
           FROM nl CROSS JOIN tot),
         hs AS (SELECT round(-sum((CAST(ns AS DOUBLE) / nn)
               * ln(CAST(ns AS DOUBLE) / nn)), 6) AS h_source
           FROM ns CROSS JOIN tot)
         SELECT n_docs, mi_nats, h_lang, h_source FROM mi, hl, hs""",

    "q177_jackknife_se" ->
      s"""WITH $qualityMilliCte,
         g AS (SELECT d.source, CAST(sum(q.quality_milli) AS BIGINT) AS sg,
             count(*) AS m
           FROM documents d JOIN q USING (doc_id) GROUP BY 1),
         tot AS (SELECT CAST(sum(sg) AS BIGINT) AS bigS,
             CAST(sum(m) AS BIGINT) AS bigN,
             CAST(count(*) AS BIGINT) AS gcnt FROM g),
         th AS (SELECT gcnt, bigS, bigN,
             CAST(bigS - sg AS DOUBLE) / (bigN - m) AS theta
           FROM g CROSS JOIN tot),
         agg AS (SELECT gcnt, bigS, bigN, avg(theta) AS tbar,
             sum(theta * theta) AS tsq
           FROM th GROUP BY 1, 2, 3)
         SELECT bigN AS n_docs, gcnt AS n_sources,
           CAST(bigS // bigN AS BIGINT) AS mean_q_milli,
           round(sqrt(((gcnt - 1) / CAST(gcnt AS DOUBLE))
             * (tsq - gcnt * tbar * tbar)), 6) AS jk_se_milli
         FROM agg""",

    "q178_ab_test" ->
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
         FROM j""",

    "q179_streaks" ->
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
         ORDER BY streak_days DESC, user_id, start_day LIMIT 20""",

    "q180_exact_k_sample" ->
      """WITH drawn AS (SELECT doc_id, source,
             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) % 1000000000 AS draw
           FROM documents),
         r AS (SELECT *, row_number() OVER (PARTITION BY source
               ORDER BY draw, doc_id) AS rn
           FROM drawn)
         SELECT source, count(*) AS n_kept,
           CAST(sum(doc_id) AS BIGINT) AS kept_ids_sum,
           CAST(max(draw) AS BIGINT) AS max_draw
         FROM r WHERE rn <= 20 GROUP BY 1 ORDER BY 1""",

    "q181_pair_explain" ->
      s"""WITH $shinglesCte,
         ef AS (SELECT * FROM e WHERE sh NOT IN
                  (SELECT sh FROM e GROUP BY sh HAVING count(*) > 100)),
         pp AS (SELECT a.id AS id_a, b.id AS id_b, a.n_sh AS n_a,
                 b.n_sh AS n_b, count(*) AS inter
               FROM ef a JOIN ef b ON a.sh = b.sh AND a.id < b.id
               GROUP BY 1, 2, 3, 4),
         t AS (SELECT id_a, id_b,
                 CAST(inter * 1000 // (n_a + n_b - inter) AS BIGINT) AS jm,
                 CAST(inter * 1000 // least(n_a, n_b) AS BIGINT)
                   AS containment_milli
               FROM pp
               WHERE inter * 1000 // (n_a + n_b - inter) >= 300),
         j AS (SELECT t.*, da.n_chars AS chars_a, db.n_chars AS chars_b
               FROM t JOIN documents da ON da.doc_id = t.id_a
                      JOIN documents db ON db.doc_id = t.id_b)
         SELECT id_a, id_b, jm, containment_milli,
           CAST(least(chars_a, chars_b) * 1000
             // greatest(chars_a, chars_b) AS BIGINT) AS len_ratio_milli
         FROM j ORDER BY jm DESC, id_a, id_b LIMIT 10""",

    "q182_table_catalog" -> Tables.names.sorted.map(n =>
        s"SELECT '$n' AS table_name, count(*) AS n_rows FROM $n")
      .mkString("", " UNION ALL ", " ORDER BY table_name"),

    "q183_iqr_outliers" ->
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
         GROUP BY 1 ORDER BY 1""",

    // Integer-exact mirror of the milli-of-centi profile means and the
    // n·Σx²−(Σx)² variance identity (HUGEINT sums, // division).
    "q184_seasonal_decomposition" ->
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
         FROM r GROUP BY 1 ORDER BY 1""",

    "q185_gini" -> {
      def giniSql(perKey: String, label: String): String =
        s"""SELECT '$label' AS dimension, n AS n_units, t AS total,
           ((s2 - (n + 1) * t) * 1000) // (n * t) AS gini_milli
           FROM (SELECT CAST(sum(nv) AS BIGINT) AS n,
               CAST(sum(v * nv) AS BIGINT) AS t,
               CAST(sum(v * nv * (cum_lt * 2 + nv + 1)) AS BIGINT) AS s2
             FROM (SELECT v, nv,
                 coalesce(sum(nv) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_lt
               FROM (SELECT v, count(*) AS nv FROM ($perKey) GROUP BY 1)))"""
      val users =
        "SELECT count(*) AS v FROM events GROUP BY user_id"
      val docs =
        """SELECT CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
           AS v FROM documents"""
      s"""SELECT * FROM (${giniSql(users, "events_per_user")}
         UNION ALL ${giniSql(docs, "tokens_per_doc")})
         ORDER BY dimension"""
    },

    "q186_quality_volume_curve" ->
      s"""WITH $qualityMilliCte,
         d2 AS (SELECT q.doc_id, q.quality_milli AS qv,
             CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
               AS toks
           FROM documents d JOIN q ON q.doc_id = d.doc_id),
         h AS (SELECT qv, count(*) AS nd, CAST(sum(toks) AS BIGINT) AS nt
               FROM d2 GROUP BY 1),
         tot AS (SELECT CAST(sum(nt) AS BIGINT) AS tt FROM h),
         sp AS (SELECT unnest(range(0, 11)) * 100 AS threshold)
         SELECT sp.threshold,
           CAST(sum(CASE WHEN h.qv >= sp.threshold THEN h.nd ELSE 0 END)
             AS BIGINT) AS n_docs_kept,
           CAST(sum(CASE WHEN h.qv >= sp.threshold THEN h.nt ELSE 0 END)
             AS BIGINT) AS n_tokens_kept,
           CAST(sum(CASE WHEN h.qv >= sp.threshold THEN h.nt ELSE 0 END)
             * 1000000 // min(tot.tt) AS BIGINT) AS token_share_ppm
         FROM sp CROSS JOIN h CROSS JOIN tot
         GROUP BY 1 ORDER BY threshold""",

    "q187_events_to_convert" ->
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
         FROM st, cuts""",

    "q188_brand_margin" ->
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
         GROUP BY 1 ORDER BY 1""",

    "q189_vocab_bands" ->
      """WITH tk AS (SELECT source,
             unnest(string_split_regex(trim(text), '\s+')) AS w
           FROM documents),
         counts AS (SELECT w, count(*) AS cnt FROM tk GROUP BY 1),
         head AS (SELECT w FROM counts ORDER BY cnt DESC, w LIMIT 100),
         b AS (SELECT tk.source,
             CASE WHEN head.w IS NOT NULL THEN 'head'
                  WHEN counts.cnt <= 2 THEN 'tail'
                  ELSE 'mid' END AS band
           FROM tk JOIN counts USING (w)
           LEFT JOIN head ON head.w = tk.w)
         SELECT source, count(*) AS n_tokens,
           CAST(sum(CASE WHEN band = 'head' THEN 1 ELSE 0 END) * 1000000
             // count(*) AS BIGINT) AS head_ppm,
           CAST(sum(CASE WHEN band = 'mid' THEN 1 ELSE 0 END) * 1000000
             // count(*) AS BIGINT) AS mid_ppm,
           CAST(sum(CASE WHEN band = 'tail' THEN 1 ELSE 0 END) * 1000000
             // count(*) AS BIGINT) AS tail_ppm
         FROM b GROUP BY 1 ORDER BY 1""",

    "q190_dq_rules" ->
      """SELECT 'documents_empty_text' AS rule_name,
           count(*) AS n_violations FROM documents
           WHERE length(trim(text)) = 0
         UNION ALL SELECT 'events_nonpositive_value', count(*) FROM events
           WHERE value <= 0
         UNION ALL SELECT 'events_null_props', count(*) FROM events
           WHERE props IS NULL
         UNION ALL SELECT 'lineitem_discount_range', count(*) FROM lineitem
           WHERE l_discount < 0 OR l_discount > 0.5
         UNION ALL SELECT 'lineitem_ship_before_order', count(*)
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_shipdate < o_orderdate
         UNION ALL SELECT 'orders_orphan_customer', count(*) FROM orders
           WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
         ORDER BY rule_name""",

    "q191_recall_at_k" -> recallAtKSql,

    "q192_price_band_revenue" ->
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
         FROM b GROUP BY 1 ORDER BY 1""",

    "q193_feed_reconciliation" ->
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
         FROM d GROUP BY 1 ORDER BY 1""",

    "q194_ooo_audit" ->
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
         FROM p WHERE prev_max IS NOT NULL""",

    "q195_apportionment" ->
      """WITH shares AS (SELECT source, count(*) AS n
                         FROM documents GROUP BY 1),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM shares),
         base AS (SELECT source, n,
             CAST(n * 1000 // t AS BIGINT) AS base_slots,
             CAST(n * 1000 - (n * 1000 // t) * t AS BIGINT) AS rem
           FROM shares CROSS JOIN tot),
         lo AS (SELECT CAST(1000 - sum(base_slots) AS BIGINT) AS r FROM base),
         rk AS (SELECT base.*, lo.r,
             row_number() OVER (ORDER BY rem DESC, source) AS rk
           FROM base CROSS JOIN lo)
         SELECT source, CAST(n AS BIGINT) AS n_docs, base_slots,
           CAST(CASE WHEN rk <= r THEN 1 ELSE 0 END AS BIGINT) AS extra_slot,
           CAST(base_slots + CASE WHEN rk <= r THEN 1 ELSE 0 END AS BIGINT)
             AS total_slots
         FROM rk ORDER BY source""",

    "q196_retention_bitmap" ->
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
         FROM masks GROUP BY 1 ORDER BY mask""",

    // The oracle asserts the HLL bound by CONSTRUCTION: the exact side is
    // recomputed and hash-compared, and within_3rsd must come back 1 from
    // the engine — a red cell here means Spark's sketch broke its ±3·rsd
    // contract (the q42-family style of gating an approximate result).
    "q197_hll_bound" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
           count(*) AS n_rows, CAST(1 AS BIGINT) AS within_3rsd
         FROM events GROUP BY 1 ORDER BY event_type""",

    // The identical md5 sketch + the identical count==depth guard: a
    // probe matching fewer than 4 present cells estimates 0.
    "q198_cms_absent_probes" ->
      """WITH w AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents),
         c AS (SELECT tok, count(*) AS cnt FROM w GROUP BY 1),
         sd AS (SELECT unnest(range(4)) AS seed),
         sb AS (SELECT c.tok, c.cnt, sd.seed,
             CAST('0x' || substring(md5(CAST(sd.seed AS VARCHAR) || ':' || c.tok), 1, 8)
               AS BIGINT) % 131072 AS bucket
           FROM c, sd),
         cms AS (SELECT seed, bucket, sum(cnt) AS total FROM sb GROUP BY 1, 2),
         probes AS (SELECT tok FROM
                      (SELECT tok FROM c ORDER BY cnt DESC, tok LIMIT 10)
                    UNION ALL
                    SELECT '__never_seen_token_' || CAST(i AS VARCHAR)
                    FROM (SELECT unnest(range(1, 6)) AS i)),
         pb AS (SELECT p.tok, sd.seed,
             CAST('0x' || substring(md5(CAST(sd.seed AS VARCHAR) || ':' || p.tok), 1, 8)
               AS BIGINT) % 131072 AS bucket
           FROM probes p, sd)
         SELECT pb.tok,
           CAST(CASE WHEN count(m.total) = 4 THEN min(m.total) ELSE 0 END
             AS BIGINT) AS est
         FROM pb LEFT JOIN cms m ON m.seed = pb.seed AND m.bucket = pb.bucket
         GROUP BY pb.tok ORDER BY pb.tok""",

    // q48's byte-length meta + the exact integer aspect-fit mirror:
    // fit = 1 if max(w,h) <= 256 else ceil(max/256); dims floor-divide.
    "q199_resize_meta" ->
      """WITH m AS (SELECT doc_id,
             CAST(64 + octet_length(encode(text)) % 512 AS INTEGER) AS width,
             CAST(64 + (octet_length(encode(text)) * 7) % 512 AS INTEGER) AS height
           FROM documents),
         f AS (SELECT doc_id, width, height,
             CASE WHEN greatest(width, height) <= 256 THEN 1
                  ELSE CAST(floor((greatest(width, height) + 255) / 256.0)
                    AS BIGINT) END AS fit
           FROM m)
         SELECT doc_id, width, height,
           CAST(floor(width / fit) AS INTEGER) AS resized_width,
           CAST(floor(height / fit) AS INTEGER) AS resized_height
         FROM f ORDER BY doc_id""",

    // Stride-4 frame indexes over n = byte_len % 16 frames; n = 0 docs
    // contribute no rows (the sequence guard's degenerate path).
    "q200_frame_sample" ->
      """WITH d AS (SELECT doc_id, octet_length(encode(text)) % 16 AS n
           FROM documents),
         f AS (SELECT doc_id, unnest(range(0, n, 4)) AS frame_idx
               FROM d WHERE n >= 1)
         SELECT doc_id, count(*) AS n_sampled,
           CAST(max(frame_idx) AS INTEGER) AS last_idx
         FROM f GROUP BY doc_id ORDER BY doc_id""",

    // Raw-shingle mirror of the bounded pair core over SOURCE postings:
    // distinct (source, shingle), the [2, 15] source-frequency band, then
    // the self-join pair count the engine folds into one aggregate.
    "q201_source_overlap" ->
      """WITH tk AS (SELECT source, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         sa AS (SELECT source,
             list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
               i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh_arr
           FROM tk),
         e AS (SELECT DISTINCT source, sh FROM
                 (SELECT source, unnest(sh_arr) AS sh FROM sa)),
         g AS (SELECT sh FROM e GROUP BY sh HAVING count(*) BETWEEN 2 AND 15),
         f AS (SELECT e.source, e.sh FROM e JOIN g USING (sh)),
         p AS (SELECT a.source AS source_a, b.source AS source_b,
                 count(*) AS n_shared
               FROM f a JOIN f b ON a.sh = b.sh AND a.source < b.source
               GROUP BY 1, 2)
         SELECT source_a, source_b, CAST(n_shared AS BIGINT) AS n_shared
         FROM p ORDER BY source_a, source_b""",

    "q202_prefix_clusters" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
           FROM documents),
         p AS (SELECT doc_id, array_to_string(list_slice(toks, 1, 8), ' ') AS pfx
               FROM tk WHERE len(toks) >= 8),
         g AS (SELECT pfx, min(doc_id) AS rep_doc, count(*) AS n_docs
               FROM p GROUP BY pfx)
         SELECT rep_doc, CAST(n_docs AS BIGINT) AS n_docs
         FROM g WHERE n_docs >= 2 ORDER BY rep_doc""",

    // rank()-1 = rows strictly below (ties share a bucket) — the same
    // value-deterministic decile formula as q100, applied twice: once
    // globally, once within source.
    "q203_decile_divergence" ->
      s"""WITH $qualityMilliCte,
         r AS (SELECT q.doc_id, d.source, q.quality_milli,
             rank() OVER (ORDER BY quality_milli) - 1 AS g_lt,
             count(*) OVER () AS n_all,
             rank() OVER (PARTITION BY d.source ORDER BY quality_milli) - 1 AS s_lt,
             count(*) OVER (PARTITION BY d.source) AS n_src
           FROM q JOIN documents d USING (doc_id)),
         b AS (SELECT least(9, (10 * g_lt) // n_all) AS g_decile,
                 least(9, (10 * s_lt) // n_src) AS s_decile
               FROM r)
         SELECT CAST(g_decile AS BIGINT) AS g_decile,
           CAST(s_decile AS BIGINT) AS s_decile, count(*) AS n_docs
         FROM b GROUP BY 1, 2 ORDER BY g_decile, s_decile"""
  )
}
