package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class RestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("failover skips 429/5xx hosts and uses the next") {
    var calls = Vector.empty[String]
    val transport: Rest.Transport = url => {
      calls :+= url
      if (url.startsWith("https://a")) Left(429)
      else if (url.startsWith("https://b")) Left(500)
      else Right("""[]""")
    }
    val body = Rest.fetchWithFailover(
      Seq("https://a", "https://b", "https://c"), "/api/v3/klines?x=1",
      transport, pauseMs = 0)
    assert(body == "[]")
    assert(calls.size == 3 && calls.last.startsWith("https://c"))
  }

  test("failover throws on non-skippable status") {
    val transport: Rest.Transport = _ => Left(404)
    intercept[RuntimeException] {
      Rest.fetchWithFailover(Seq("https://a", "https://b"), "/x", transport, pauseMs = 0)
    }
  }

  test("parseKlines reads positional arrays with string prices") {
    val body =
      """[[1704067200000,"42000.1","42100.2","41900.3","42050.4","10.5",1704067259999,"441525.0",37],
         [1704067260000,"42050.0","42200.0","42000.0","42150.0","8.25",1704067319999,"347700.0",21]]"""
    val ks = Rest.parseKlines(body)
    assert(ks.size == 2)
    assert(ks.head == Rest.Kline(1704067200000L, 42000.1, 42100.2, 41900.3, 42050.4, 10.5, 37))
  }

  test("parseDepth emits bids before asks, each level carrying lastUpdateId") {
    val body =
      """{"lastUpdateId":1027024,
         "bids":[["42000.10","1.50000000"],["41999.5","0.25"]],
         "asks":[["42000.20","2.00000000"]]}"""
    assert(Rest.parseDepth(body) == Seq(
      Rest.DepthLevel(42000.10, 1.5, "bid", 1027024L),
      Rest.DepthLevel(41999.5, 0.25, "bid", 1027024L),
      Rest.DepthLevel(42000.20, 2.0, "ask", 1027024L)))
  }

  test("pagination walks past the page limit (fixing reference truncation)") {
    // Source has 2500 one-minute bars; pages capped at 1000.
    val start = 1704067200000L
    def fetchPage(s: Long, e: Long, limit: Int): Seq[Rest.Kline] = {
      val first = (s - start) / 60000L
      (first until math.min(first + limit, 2500L)).map { i =>
        Rest.Kline(start + i * 60000L, 1, 1, 1, 1, 0, 0)
      }
    }
    val all = Rest.paginateKlines(fetchPage, start, start + 2500L * 60000L, limit = 1000)
    assert(all.size == 2500)
    assert(all.map(_.openTimeMs).distinct.size == 2500)
    val df = Rest.klinesToDataFrame(spark, "BTCUSDT", "1m", all.take(10))
    assert(df.count() == 10 && df.columns.contains("open_time"))
  }
}
