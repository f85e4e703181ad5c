package graft.sources

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.streaming.Bars

/** The broker-free half of the Kafka feed: the connector's wire schema and
  * [[Kafka.parseTrades]]. The connector jar is not on this build's
  * classpath, so the spec (a) pins the mocked record shape to
  * [[Kafka.wireSchema]], and (b) drives the full parse→bars pipeline from
  * a MemoryStream carrying that wire schema, and the same rows as a batch.
  *
  * [[KafkaWire]] is one mocked record in the connector's wire shape
  * (top-level: Spark's case-class encoder cannot reach a suite-inner
  * class). */
case class KafkaWire(key: Array[Byte], value: Array[Byte], topic: String,
                     partition: Int, offset: Long, timestamp: Timestamp,
                     timestampType: Int)

class KafkaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rec(sym: String, json: String, off: Long): KafkaWire =
    KafkaWire(sym.getBytes("UTF-8"), json.getBytes("UTF-8"), "trades", 0, off,
      Timestamp.valueOf("2024-01-01 00:00:00"), 0)

  private def tradeJson(id: Long, price: String, qty: String, timeMs: Long): String =
    s"""{"id":$id,"price":"$price","qty":"$qty","quoteQty":"0","time":$timeMs,
        "isBuyerMaker":false,"isBestMatch":true}"""

  // 2024-01-01 00:00:00 UTC in epoch millis.
  private val T0 = 1704067200000L

  test("mocked wire batch matches the connector's wire schema") {
    val mock = Seq(rec("S", "{}", 0L)).toDF()
    assert(mock.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Kafka.wireSchema.fields.map(f => (f.name, f.dataType)).toSeq,
      "MemoryStream mock drifted from the kafka wire contract")
  }

  test("parseTrades lands wire records as typed trades and drops poison pills") {
    val records: DataFrame = Seq(
      rec("BTCUSDT", tradeJson(1, "42000.5", "0.25", T0 + 5000), 0),
      rec("BTCUSDT", "not json at all", 1),                  // malformed
      rec("BTCUSDT", """{"id":9,"price":"1"}""", 2),         // missing time
      rec("ETHUSDT", tradeJson(2, "2500.25", "1.5", T0 + 65000), 3))
      .toDF()
    val got = Kafka.parseTrades(records)
      .select("symbol", "trade_id", "price", "qty", "trade_time")
      .as[(String, Long, Double, Double, Timestamp)]
      .collect().toSeq.sortBy(_._2)
    assert(got.map(t => (t._1, t._2, t._3, t._4)) ==
      Seq(("BTCUSDT", 1L, 42000.5, 0.25), ("ETHUSDT", 2L, 2500.25, 1.5)))
    // epoch-millis → timestamp: 5 s into the minute under the UTC session.
    assert(got.head._5.toInstant.toEpochMilli == T0 + 5000)
  }

  test("kafka wire stream → parseTrades → oneMinuteBars micro-batches correctly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[KafkaWire]
    val bars = Bars.oneMinuteBars(
      Kafka.parseTrades(mem.toDF()).select("symbol", "trade_time", "price", "qty"))
    val q = bars.writeStream.format("memory").queryName("kafka_bars")
      .outputMode("update").start()
    try {
      mem.addData(
        rec("BTCUSDT", tradeJson(1, "10.0", "1.0", T0 + 5000), 0),
        rec("BTCUSDT", tradeJson(2, "12.0", "2.0", T0 + 30000), 1),
        rec("BTCUSDT", "garbage", 2),
        rec("BTCUSDT", tradeJson(3, "11.0", "1.0", T0 + 55000), 3))
      q.processAllAvailable()
      val bar = spark.table("kafka_bars")
        .where(col("symbol") === "BTCUSDT")
        .select("open", "high", "low", "close", "volume", "num_trades")
        .as[(Double, Double, Double, Double, Double, Long)].collect().toSeq
      assert(bar == Seq((10.0, 12.0, 10.0, 11.0, 4.0, 3L)))
    } finally q.stop()
  }

  test("batch parity: the same wire rows through parseTrades equal the stream result") {
    val wire = Seq(
      rec("S", tradeJson(1, "10.0", "1.0", T0 + 5000), 0),
      rec("S", tradeJson(2, "12.0", "2.0", T0 + 30000), 1))
    val batchBars = Bars.oneMinuteBars(
      Kafka.parseTrades(wire.toDF()).select("symbol", "trade_time", "price", "qty"))
      .select("open", "high", "low", "close", "volume", "num_trades")
      .as[(Double, Double, Double, Double, Double, Long)].collect().toSeq
    assert(batchBars == Seq((10.0, 12.0, 10.0, 12.0, 3.0, 2L)))
  }
}
