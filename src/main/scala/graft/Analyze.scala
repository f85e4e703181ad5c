package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.domain.Crypto
import graft.operators.{AggOps, JoinOps, WindowOps}
import graft.sinks.Artifacts
import graft.sources.CsvReaders

/** The end-to-end analytics job — the reference's richest entry point
  * (`python -m src.analytics.binance_analysis`, SURVEY §3.3) as one Spark
  * job: load candles → build the feature frame ONCE (cached — ~10 artifact
  * queries fan out from it) → emit every artifact table, including the
  * optional trades/orderbook reports (`summary_large_trades.json`,
  * `summary_orderbook.json`, `binance_analysis.py:692-728`) when those
  * inputs are supplied.
  *
  * Usage: Analyze <candlesPath(.csv glob|parquet)> <outDir> [focusSymbol]
  *   (trades/book inputs via the Main CLI `analyze --trades/--book` flags)
  */
object Analyze {

  def run(spark: SparkSession, candles: DataFrame, outDir: String,
          focusSymbol: Option[String] = None,
          trades: Option[DataFrame] = None,
          book: Option[DataFrame] = None): Unit = {
    val feats = Crypto.addFeatures(candles).cache()
    try {
      val symbols = feats.select(col("symbol")).distinct()
        .orderBy(col("symbol")).collect().map(_.getString(0)).toSeq
      val focus = focusSymbol.orElse(symbols.headOption).getOrElse(return)
      val f = feats.where(col("symbol") === focus)

      // A1 metrics over all symbols
      Artifacts.writeCsv(Crypto.marketMetrics(feats), s"$outDir/metrics_summary")
      // A2-A6 profiles for the focus symbol
      Artifacts.writeCsv(AggOps.dailySummary(f, col("open_time"), col("typical_price")),
        s"$outDir/daily_summary")
      Artifacts.writeCsv(AggOps.monthlyRollup(f, col("open_time"), col("volume")),
        s"$outDir/monthly_volume")
      Artifacts.writeCsv(AggOps.hourProfile(f, col("open_time"), col("abs_ret")),
        s"$outDir/hourly_profile")
      Artifacts.writeCsv(AggOps.dowProfile(f, col("open_time"), col("abs_ret")),
        s"$outDir/dow_profile")
      Artifacts.writeCsv(AggOps.weekdayHourHeatmap(f, col("open_time"), col("abs_ret")),
        s"$outDir/heatmap_absret")
      Artifacts.writeCsv(AggOps.weekdayHourHeatmap(f, col("open_time"), col("volume")),
        s"$outDir/heatmap_volume")
      // anomaly top-200 (O2/O3)
      Artifacts.writeCsv(WindowOps.topK(
          f.select(col("open_time"), col("close"), col("abs_ret"), col("anomaly_score")),
          Seq(col("anomaly_score").desc, col("open_time")), 200),
        s"$outDir/anomalies_top")
      // J2/A7 cross-symbol correlation of log returns (fillna(0) quirk kept)
      if (symbols.size >= 2) {
        val aligned = JoinOps.pivotAlign(feats, col("open_time"), "symbol",
          symbols, col("log_ret"))
        // Zero-variance-safe Pearson: ANSI mode makes native corr() THROW
        // on constant series; pandas yields NaN — null here matches that.
        def safeCorr(a: String, b: String) = {
          val denom = stddev_samp(col(a)) * stddev_samp(col(b))
          when(denom =!= 0.0, covar_samp(col(a), col(b)) / denom)
        }
        val pairs = for { a <- symbols; b <- symbols if a < b } yield
          round(safeCorr(a, b), 6).as(s"corr_${a}_$b")
        Artifacts.writeJsonSummary(aligned.agg(pairs.head, pairs.tail: _*),
          s"$outDir/summary_correlation.json")
      }
      // A9/A10 overall summary scalars + A12 coverage
      Artifacts.writeJsonSummary(
        AggOps.overallSummary(f, col("typical_price")), s"$outDir/summary_overall.json")
      Artifacts.writeJsonSummary(
        AggOps.coverage(f, col("open_time")), s"$outDir/summary_coverage.json")
      // O4 sampled activity-vs-volatility scatter table (the table behind
      // vol_vs_volume_scatter.png, binance_analysis.py:713): deterministic
      // exact-5000 sample of the focus frame, reproducible across engines.
      Artifacts.writeCsv(WindowOps.deterministicSample(
          f.select(col("open_time"), col("log_volume"), col("abs_ret")),
          concat_ws(":", col("symbol"), col("open_time").cast("string")), 5000),
        s"$outDir/vol_vs_volume_sample")
      // Optional J1/F5/P24 large-trades report (binance_analysis.py:692-724):
      // scalar summary + top-50 rows by notional, forward returns attached
      // from the candles' minute buckets.
      trades.foreach { tr =>
        val (top, summary) = Crypto.largeTradesReport(tr, feats
          .select(col("symbol"), col("open_time"), col("close")),
          quantile = 0.995, topN = 50)
        Artifacts.writeJsonSummaryWithRows(summary,
          top.select(col("trade_time").as("ts"), col("minute"),
            col("price"), col("qty"), round(col("notional"), 8).as("notional"),
            col("fwd_ret_5").as("ret_5m"), col("fwd_ret_15").as("ret_15m"),
            col("fwd_ret_60").as("ret_60m")),
          "top_rows", s"$outDir/summary_large_trades.json")
      }
      // Optional A14/A15 orderbook snapshot report (:727-728).
      book.foreach { ob =>
        Artifacts.writeJsonSummary(Crypto.orderbookReport(ob, topN = 20),
          s"$outDir/summary_orderbook.json")
      }
    } finally feats.unpersist()
  }

  def main(args: Array[String]): Unit = {
    val path = args(0); val outDir = args(1)
    val focus = args.lift(2)
    val spark = GraftSession.create(defaultCpus = "8")
    val candles =
      if (path.endsWith(".csv")) CsvReaders.readKlinesCsv(spark, path)
      else spark.read.parquet(path)
    run(spark, candles, outDir, focus)
    spark.stop()
  }
}
