package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.operators.UpsertWriter
import graft.sources.Synthetic

class BarsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("oneMinuteBars (batch parity): OHLCV matches hand aggregation") {
    val trades = Seq(
      ("S", "2024-01-01 00:00:05", 10.0, 1.0),
      ("S", "2024-01-01 00:00:30", 12.0, 2.0),
      ("S", "2024-01-01 00:00:55", 11.0, 1.0),
      ("S", "2024-01-01 00:01:10", 13.0, 0.5))
      .toDF("symbol", "t", "price", "qty")
      .withColumn("trade_time", to_timestamp(col("t"))).drop("t")
    val bars = Bars.oneMinuteBars(trades).orderBy("open_time")
      .select("open", "high", "low", "close", "volume", "num_trades")
      .as[(Double, Double, Double, Double, Double, Long)].collect().toSeq
    assert(bars == Seq((10.0, 12.0, 10.0, 11.0, 4.0, 3L), (13.0, 13.0, 13.0, 13.0, 0.5, 1L)))
  }

  test("upsert GCs superseded generations (keeps current + previous)") {
    val table = Files.createTempDirectory("gen-gc").toString
    (1 to 4).foreach { i =>
      val batch = Seq(("S", i.toLong, i * 1.0)).toDF("symbol", "poll_id", "price")
      UpsertWriter.upsert(spark, batch, table, Seq("symbol", "poll_id"),
        retainMillis = 0L)
    }
    val gens = new java.io.File(table).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
    assert(gens.length <= 2, s"leaked generations: ${gens.map(_.getName).toSeq}")
    assert(UpsertWriter.read(spark, table).get.count() == 4)
  }

  test("upsert retention window protects in-flight readers of aged gens") {
    val table = Files.createTempDirectory("gen-retain").toString
    (1 to 4).foreach { i =>
      val batch = Seq(("S", i.toLong, i * 1.0)).toDF("symbol", "poll_id", "price")
      UpsertWriter.upsert(spark, batch, table, Seq("symbol", "poll_id"))
    }
    // Default 60 s retention: the three superseded generations are all
    // younger than the window, so a reader holding any of them can finish.
    val gens = new java.io.File(table).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
    assert(gens.length == 4, s"young generations GC'd: ${gens.map(_.getName).toSeq}")
    assert(UpsertWriter.read(spark, table).get.count() == 4)
  }

  test("streaming micro-batches upsert into the bar table idempotently") {
    val src = Files.createTempDirectory("stream-src")
    val table = Files.createTempDirectory("bar-table").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val trades = Synthetic.syntheticTrades(spark, "AAA", 300, 1704067200L)
    trades.write.mode("overwrite").parquet(src.toString + "/batch1")

    val stream = spark.readStream.schema(trades.schema)
      .parquet(src.toString + "/*")
      .select("symbol", "trade_time", "price", "qty")
    val q = Bars.autoUpsertingWriter(Bars.oneMinuteBars(stream), table, ckpt,
      numBuckets = 1).start()
    try { q.processAllAvailable() } finally { q.stop() }

    val got = UpsertWriter.read(spark, table).get
    val expected = Bars.oneMinuteBars(trades.select("symbol", "trade_time", "price", "qty"))
    assert(got.count() == expected.count())
    // bar for the first minute matches the batch computation exactly
    val g1 = got.orderBy("open_time").select("open", "high", "low", "close", "volume")
      .as[(Double, Double, Double, Double, Double)].head()
    val e1 = expected.orderBy("open_time").select("open", "high", "low", "close", "volume")
      .as[(Double, Double, Double, Double, Double)].head()
    assert(g1 == e1)
  }

  test("bucketed streaming sink matches the full-rewrite sink's table state") {
    val src = Files.createTempDirectory("bstream-src")
    val trades = Synthetic.syntheticTrades(spark, "AAA", 300, 1704067200L)
    trades.write.mode("overwrite").parquet(src.toString + "/batch1")

    val stream = spark.readStream.schema(trades.schema)
      .parquet(src.toString + "/*")
      .select("symbol", "trade_time", "price", "qty")
    // The same stream into an 8-bucket and a 1-bucket table.
    val tables = Seq(8, 1).map { n =>
      val table = Files.createTempDirectory(s"bbar-table-$n").toString
      val ckpt = Files.createTempDirectory(s"bckpt-$n").toString
      val q = Bars.autoUpsertingWriter(
        Bars.oneMinuteBars(stream), table, ckpt, numBuckets = n).start()
      try { q.processAllAvailable() } finally { q.stop() }
      UpsertWriter.read(spark, table).get.collect().map(_.toString).sorted.toSeq
    }
    assert(tables(0) == tables(1), "8-bucket table diverged from the 1-bucket table")
    val expected = Bars.oneMinuteBars(trades.select("symbol", "trade_time", "price", "qty"))
      .collect().map(_.toString).sorted.toSeq
    assert(tables(0) == expected)
  }

  test("default streaming sink is 32-bucketed even for a bulk-shaped first batch") {
    val src = Files.createTempDirectory("astream-src")
    val table = Files.createTempDirectory("abar-table").toString
    val ckpt = Files.createTempDirectory("ackpt").toString
    // A full hour of trades in ONE file = the restart-against-accumulated-
    // backlog shape: the first trigger replays ~60 bar keys as one bulk
    // batch. The bucket count is the writer's, not the batch's: the table
    // is created with the streaming default of 32 (ADVICE-r13).
    val trades = Synthetic.syntheticTrades(spark, "AAA", 3600, 1704067200L)
    trades.write.mode("overwrite").parquet(src.toString + "/batch1")

    val stream = spark.readStream.schema(trades.schema)
      .parquet(src.toString + "/*")
      .select("symbol", "trade_time", "price", "qty")
    val q = Bars.autoUpsertingWriter(Bars.oneMinuteBars(stream), table, ckpt).start()
    try { q.processAllAvailable() } finally { q.stop() }

    assert(Files.readString(java.nio.file.Paths.get(table, "META"))
      .contains("numBuckets=32"), "bulk first batch must not change the bucket count")
    val got = UpsertWriter.read(spark, table).get
    val expected = Bars.oneMinuteBars(trades.select("symbol", "trade_time", "price", "qty"))
    assert(got.count() == expected.count())
    val g1 = got.orderBy("open_time").select("open", "high", "low", "close", "volume")
      .as[(Double, Double, Double, Double, Double)].head()
    val e1 = expected.orderBy("open_time").select("open", "high", "low", "close", "volume")
      .as[(Double, Double, Double, Double, Double)].head()
    assert(g1 == e1)
  }
}
