package graft.domain

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{RobustZ, TimeOps}
import graft.operators.{AggOps, JoinOps, WindowOps}

/** The crypto-market domain layer: typed schemas (§1.2) + the reference's
  * analytics programs instantiated from the generic operator library.
  * Everything here is a thin binding — the engine itself is domain-free.
  */
object Crypto {

  case class Candle(symbol: String, tf: String, open_time: java.sql.Timestamp,
                    open: Double, high: Double, low: Double, close: Double,
                    volume: Double, num_trades: Long)

  case class Trade(symbol: String, trade_id: Long, price: Double, qty: Double,
                   quote_qty: Double, trade_time: java.sql.Timestamp,
                   is_buyer_maker: Boolean, is_best_match: Boolean)

  case class BookLevel(symbol: String, price: Double, qty: Double, side: String,
                       update_id: Long, update_time: java.sql.Timestamp)

  /** `add_features` (`binance_analysis.py:209-245`): the full per-candle
    * feature pipeline — typical price, log transforms, per-symbol log
    * returns (lag window), calendar parts, 60-row rolling volatility gated
    * at 30 observations, column-GLOBAL robust z-scores and the anomaly
    * score. One shuffle per window partition key; the z-scores broadcast
    * one-row stats, so the frame is never reshuffled for them. */
  def addFeatures(candles: DataFrame): DataFrame = {
    val part = Seq(col("symbol"))
    val order = Seq(col("open_time"))
    val base = candles
      .withColumn("typical_price", (col("high") + col("low") + col("close")) / 3)
      .withColumn("log_close", log(col("close")))
      .withColumn("log_volume", log1p(col("volume")))
      .withColumn("hour", hour(col("open_time")))
      .withColumn("weekday", TimeOps.weekdayNum(col("open_time")))
      .withColumn("weekday_name", TimeOps.weekdayName(col("open_time")))
    val withRet = WindowOps.lagDiff(base, part, order, col("log_close"), "log_ret")
      .withColumn("abs_ret", abs(col("log_ret")))
    val withVol = WindowOps.rollingStd(withRet, part, order, col("log_ret"),
      window = 60, minPeriods = 30, out = "vol_60m")
    // Reference fills NaN with 0 before the z-pass (binance_analysis.py:242-243).
    val zInput = withVol
      .withColumn("abs_ret_f", coalesce(col("abs_ret"), lit(0.0)))
      .withColumn("log_volume_f", coalesce(col("log_volume"), lit(0.0)))
    RobustZ.withAnomalyScore(zInput, Seq("abs_ret_f", "log_volume_f"), "anomaly_score")
      .withColumnRenamed("z_abs_ret_f", "z_absret")
      .withColumnRenamed("z_log_volume_f", "z_logvol")
      .drop("abs_ret_f", "log_volume_f")
  }

  /** A1 metrics (`src/analytics/metrics.py:15-24`). */
  def marketMetrics(candles: DataFrame): DataFrame =
    candles.groupBy(col("symbol"))
      .agg(round(avg((col("open") + col("high") + col("low") + col("close")) / 4), 2).as("avg_price"),
           round(stddev_samp(col("close")), 2).as("volatility"),
           round(sum(col("volume")), 2).as("total_volume"),
           sum(col("num_trades")).as("total_trades"))
      .orderBy(col("symbol"))

  /** Large-trades analysis (J1/F5/P24, `binance_analysis.py:376-418`):
    * join trades to candles on the minute bucket, attach forward returns,
    * keep trades above the notional quantile, top-k by notional — plus the
    * one-row scalar report the reference's JSON artifact carries alongside
    * the top rows (`binance_analysis.py:433-440`): total trade rows, the
    * notional threshold at `quantile`, and the count at-or-above it. Both
    * frames derive from the same threshold plan; they are separate ACTIONS,
    * so an artifact job that writes both scans the trades twice — trades tables
    * are minute-bucketed fact slices, not the 100 TB corpus, and the
    * alternative (caching) would pin an arbitrarily large frame for two
    * small reports. */
  def largeTradesReport(trades: DataFrame, candles: DataFrame,
                        quantile: Double, topN: Int): (DataFrame, DataFrame) = {
    val withMinute = trades
      .withColumn("notional", col("price") * col("qty"))
      .withColumn("minute", TimeOps.minuteFloor(col("trade_time")))
    val thr = withMinute.agg(percentile(col("notional"), lit(quantile)).as("thr"))
    val big = withMinute.crossJoin(broadcast(thr)).where(col("notional") >= col("thr"))
    val candleSide = WindowOps.forwardReturns(candles,
        Seq(col("symbol")), Seq(col("open_time")), col("close"), Seq(5, 15, 60))
      .select(col("symbol"), col("open_time").as("minute"),
        col("fwd_ret_5"), col("fwd_ret_15"), col("fwd_ret_60"))
    val joined = JoinOps.bucketAlignJoin(big, candleSide, Seq("symbol", "minute"))
    val top = WindowOps.topK(joined, Seq(col("notional").desc, col("trade_id")), topN)
    val summary = withMinute.crossJoin(broadcast(thr)).agg(
      count(lit(1)).as("rows_total"),
      round(max(col("thr")), 8).as("threshold_notional"),
      sum(when(col("notional") >= col("thr"), 1L).otherwise(0L)).as("rows_large"))
    (top, summary)
  }

  /** Orderbook analytics (W4/A14/A15, `binance_analysis.py:483-512`): level
    * numbering per side (bids price-desc, asks price-asc), best bid/ask +
    * spread/mid, top-N depth per side. */
  def bookLevels(book: DataFrame): DataFrame = {
    val cleaned = book.withColumn("side", lower(trim(col("side"))))
      .where(col("side").isin("bid", "ask"))
    // Per-side opposite sort directions via a single sign-flipped sort key.
    val sortKey = when(col("side") === "bid", -col("price")).otherwise(col("price"))
    WindowOps.levelNumbers(cleaned, Seq(col("symbol"), col("side")),
      Seq(sortKey, col("update_id")), "level")
  }

  def bestBidAsk(book: DataFrame): DataFrame =
    AggOps.bestBidAsk(book, col("side"), "bid", "ask", col("price"))

  def depth(book: DataFrame, topN: Int): DataFrame =
    bookLevels(book).where(col("level") <= topN)
      .groupBy(col("symbol"), col("side"))
      .agg(round(sum(col("qty")), 8).as("depth_qty"),
           round(sum(col("qty") * col("price")), 8).as("depth_notional"))
      .orderBy(col("symbol"), col("side"))

  /** The orderbook snapshot report (`binance_analysis.py:499-524`) as ONE
    * one-row frame: row count + snapshot time bounds, best bid/ask with
    * spread and mid, and the top-`topN` per-side depth pivoted to scalar
    * columns (`depth_topN_{bid,ask}_{qty,notional}`). Side values are
    * normalized (lower/trim) and non-bid/ask rows dropped first, matching
    * the reference's cleaning. Multi-symbol books aggregate ACROSS symbols
    * (the reference reads one symbol's snapshot; per-symbol reports come
    * from [[depth]]/[[bestBidAsk]] directly). Three one-row aggregates
    * crossJoined — each is a single map-side-combined pass, no corpus-sized
    * join sides. */
  def orderbookReport(book: DataFrame, topN: Int = 20): DataFrame = {
    val cleaned = book.withColumn("side", lower(trim(col("side"))))
      .where(col("side").isin("bid", "ask"))
    val meta = cleaned.agg(count(lit(1)).as("rows_total"),
      min(col("update_time")).as("ts_min"), max(col("update_time")).as("ts_max"))
    val best = bestBidAsk(cleaned)
    val d = depth(cleaned, topN).groupBy().agg(
      round(sum(when(col("side") === "bid", col("depth_qty"))), 8)
        .as(s"depth_top${topN}_bid_qty"),
      round(sum(when(col("side") === "ask", col("depth_qty"))), 8)
        .as(s"depth_top${topN}_ask_qty"),
      round(sum(when(col("side") === "bid", col("depth_notional"))), 8)
        .as(s"depth_top${topN}_bid_notional"),
      round(sum(when(col("side") === "ask", col("depth_notional"))), 8)
        .as(s"depth_top${topN}_ask_notional"))
    meta.crossJoin(broadcast(best)).crossJoin(broadcast(d))
  }
}
