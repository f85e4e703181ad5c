package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import StatefulOps.TradeEvent

class StatefulAndSaltingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("flatMapGroupsWithState running VWAP accumulates across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TradeEvent]
    val out = StatefulOps.runningVwap(mem.toDS())
    val q = out.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("vwap_out").start()
    try {
      mem.addData(TradeEvent("AAA", 100.0, 1.0), TradeEvent("AAA", 110.0, 1.0),
        TradeEvent("BBB", 10.0, 2.0))
      q.processAllAvailable()
      val b1 = spark.sql("select * from vwap_out").as[StatefulOps.VwapUpdate]
        .collect().map(u => u.symbol -> u).toMap
      assert(b1("AAA").vwap == 105.0 && b1("AAA").n == 2)
      assert(b1("BBB").vwap == 10.0 && b1("BBB").cumQty == 2.0)

      // second batch folds into persisted state, not a fresh aggregate
      mem.addData(TradeEvent("AAA", 130.0, 2.0))
      q.processAllAvailable()
      val b2 = spark.sql("select * from vwap_out").as[StatefulOps.VwapUpdate]
        .collect().filter(_.symbol == "AAA").maxBy(_.n)
      assert(b2.n == 3 && b2.cumQty == 4.0)
      assert(math.abs(b2.vwap - (100.0 + 110.0 + 260.0) / 4.0) < 1e-12)
    } finally q.stop()
  }

  test("flatMapGroupsWithState running EWMA matches the batch fold across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StatefulOps.SeriesEvent
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SeriesEvent]
    val out = StatefulOps.runningEwma(mem.toDS(), alpha = 0.25)
    val q = out.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("ewma_out").start()
    try {
      // batch 1: out-of-order WITHIN the batch — must fold in ts order
      mem.addData(SeriesEvent("A", 2L, 20.0), SeriesEvent("A", 1L, 10.0),
        SeriesEvent("B", 1L, 5.0))
      q.processAllAvailable()
      // batch 2 folds on top of persisted state
      mem.addData(SeriesEvent("A", 3L, 30.0))
      q.processAllAvailable()
      val rows = spark.sql("select * from ewma_out").as[StatefulOps.EwmaUpdate]
        .collect().groupBy(_.symbol)
      // reference: same fold as ScanOps — y0=x0, y=0.75y+0.25x
      val a1 = 0.75 * 10.0 + 0.25 * 20.0            // after batch 1
      val a2 = 0.75 * a1 + 0.25 * 30.0              // after batch 2
      assert(rows("A").map(u => (u.n, u.ewma)).toSet == Set((2L, a1), (3L, a2)))
      assert(rows("B").map(u => (u.n, u.ewma)).toSet == Set((1L, 5.0)))
    } finally q.stop()
  }

  test("streaming gridFfill emits dense hourly grids across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StatefulOps.{GridEvent, GridRow}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[GridEvent]
    val out = StatefulOps.gridFfill(mem.toDS())
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ffill_out").start()
    try {
      // batch 1: hours 1 and 4 observed (out of order) → 2 and 3 carried
      mem.addData(GridEvent("A", 4L, 40.0), GridEvent("A", 1L, 10.0),
        GridEvent("B", 7L, 7.0))
      q.processAllAvailable()
      // batch 2: hour 6 → 5 carried from 40.0; hour 3 is LATE → dropped
      mem.addData(GridEvent("A", 6L, 60.0), GridEvent("A", 3L, 99.0))
      q.processAllAvailable()
      val rows = spark.sql("select * from ffill_out").as[GridRow]
        .collect().toSet
      assert(rows == Set(
        GridRow("A", 1L, 10.0, isGap = false),
        GridRow("A", 2L, 10.0, isGap = true),
        GridRow("A", 3L, 10.0, isGap = true),
        GridRow("A", 4L, 40.0, isGap = false),
        GridRow("A", 5L, 40.0, isGap = true),
        GridRow("A", 6L, 60.0, isGap = false),
        GridRow("B", 7L, 7.0, isGap = false)))
    } finally q.stop()
  }
}
