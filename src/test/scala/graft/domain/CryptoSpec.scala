package graft.domain

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.sources.Synthetic

class CryptoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val candles = {
    // 120 bars of pseudo-random walk for one symbol + 60 constant bars for another.
    val walk = spark.range(120)
      .withColumn("symbol", lit("AAA")).withColumn("tf", lit("1m"))
      .withColumn("open_time", timestamp_seconds(lit(1704067200L) + col("id") * 60))
      .withColumn("close", lit(100.0) + pmod(hash(col("id")), lit(200)).cast("double") / 10.0)
      .withColumn("open", col("close")).withColumn("high", col("close") + 1)
      .withColumn("low", col("close") - 1)
      .withColumn("volume", pmod(hash(col("id") * 7), lit(100)).cast("double"))
      .withColumn("num_trades", lit(5L)).drop("id")
    val flat = Synthetic.offlineKlines(spark, "BBB", "1m", 60, 1704070800L)
    walk.unionByName(flat)
  }

  test("addFeatures: schema, per-symbol lag, rolling gate, anomaly score") {
    val f = Crypto.addFeatures(candles).cache()
    val cols = f.columns.toSet
    assert(Set("typical_price", "log_close", "log_ret", "abs_ret", "log_volume",
      "hour", "weekday", "weekday_name", "vol_60m", "z_absret", "z_logvol",
      "anomaly_score").subsetOf(cols))
    // first bar per symbol has null log_ret
    val firsts = f.where(col("log_ret").isNull).groupBy("symbol").count()
      .as[(String, Long)].collect().toMap
    assert(firsts == Map("AAA" -> 1L, "BBB" -> 1L))
    // vol_60m null until 30 observations of log_ret per symbol
    val aaa = f.where(col("symbol") === "AAA").orderBy("open_time")
      .select("vol_60m").as[Option[Double]].collect()
    assert(aaa.take(30).forall(_.isEmpty))   // rows 0..29: <30 log_ret obs
    assert(aaa.drop(30).forall(_.isDefined))
    // anomaly score = max(|z_absret|, |z_logvol|), non-negative
    assert(f.where(col("anomaly_score") < 0).count() == 0)
    val mismatch = f.where(col("anomaly_score") =!=
      greatest(abs(col("z_absret")), abs(col("z_logvol")))).count()
    assert(mismatch == 0)
  }

  test("marketMetrics: constant-price symbol has zero volatility") {
    val m = Crypto.marketMetrics(candles).as[(String, Double, Double, Double, Long)]
      .collect().toSeq
    assert(m.map(_._1) == Seq("AAA", "BBB")) // ordered by symbol
    val bbb = m.find(_._1 == "BBB").get
    assert(bbb._2 == 1.0 && bbb._3 == 0.0 && bbb._4 == 0.0 && bbb._5 == 0L)
  }

  test("bookLevels: bids rank price-desc, asks price-asc") {
    val book = Seq(
      ("S", 100.0, 1.0, "bid", 1L), ("S", 99.0, 2.0, "bid", 1L),
      ("S", 101.0, 1.0, "ask", 1L), ("S", 102.0, 2.0, "ask", 1L))
      .toDF("symbol", "price", "qty", "side", "update_id")
      .withColumn("update_time", timestamp_seconds(lit(1704067200L)))
    val lv = Crypto.bookLevels(book).orderBy("side", "level")
      .select("side", "level", "price").as[(String, Int, Double)].collect().toSeq
    assert(lv == Seq(("ask", 1, 101.0), ("ask", 2, 102.0),
                     ("bid", 1, 100.0), ("bid", 2, 99.0)))
    val bba = Crypto.bestBidAsk(book).head()
    assert(bba.getDouble(bba.fieldIndex("best_bid")) == 100.0)
    assert(bba.getDouble(bba.fieldIndex("best_ask")) == 101.0)
    assert(bba.getDouble(bba.fieldIndex("spread")) == 1.0)
  }

  test("largeTrades joins forward returns on the minute bucket") {
    val trades = Synthetic.syntheticTrades(spark, "AAA", 500, 1704067200L)
    val out = Crypto.largeTradesReport(trades, candles.where(col("symbol") === "AAA"),
      quantile = 0.9, topN = 20)._1
    assert(out.count() <= 20 && out.count() > 0)
    assert(out.columns.contains("fwd_ret_5"))
  }
}
