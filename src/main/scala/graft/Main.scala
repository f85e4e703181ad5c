package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sinks.Artifacts
import graft.sources.{Rest, Synthetic}

/** CLI job runner — the reference's primary UX, `python -m src.main`
  * subcommands (`src/main.py:36-64,95-140`), re-expressed over the Spark
  * library:
  *
  *   price-ticks         --n 5 --delay 1.0
  *   collect-klines      --pairs BTCUSDT,ETHUSDT --tf 1m --days 1 --out data
  *   collect-trades      --pairs ... --out data
  *   collect-orderbooks  --pairs ... --out data
  *   etl                 --data data --warehouse warehouse
  *   analyze             --in <csv-glob|parquet> --out artifacts [--focus SYM]
  *                       [--trades <csv|parquet>] [--book <csv|parquet>]
  *
  * `OFFLINE=1` (the reference's fixture switch, `src/binance/api.py:56-64`)
  * swaps every REST fetch for the deterministic synthetic sources, so the
  * whole surface runs in zero-egress environments; the reference's
  * interactive menu maps to the printed usage (a batch CLI has no stdin
  * contract). Defaults mirror the reference's env fallbacks
  * (PAIRS/TF/DAYS/OUT_DIR).
  */
object Main {

  /** Env fallbacks mirror the reference's exactly (api.py/main.py read
    * PAIRS/TF/DAYS/OUT_DIR) — an explicit whitelist, so unrelated
    * environment variables (DATA, N, ...) can never silently override a
    * flag default. */
  private val envFallback = Map(
    "pairs" -> "PAIRS", "tf" -> "TF", "days" -> "DAYS", "out" -> "OUT_DIR")

  case class Opts(cmd: Option[String], kv: Map[String, String]) {
    def get(k: String, dflt: => String): String =
      kv.getOrElse(k,
        envFallback.get(k).flatMap(sys.env.get).getOrElse(dflt))
  }

  /** `<cmd> --flag value ...`; every `--flag` must have a value — a
    * dangling flag would otherwise shift all later pairs and silently
    * mis-assign them. */
  def parseArgs(args: Array[String]): Opts = {
    val cmd = args.headOption.filterNot(_.startsWith("--"))
    val rest = args.drop(if (cmd.isDefined) 1 else 0)
    require(rest.length % 2 == 0,
      s"flag without a value in: ${rest.mkString(" ")}")
    val kv = rest.sliding(2, 2).map {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.drop(2) -> v
      case Array(k, v) =>
        sys.error(s"expected --flag value, got: $k $v")
    }.toMap
    Opts(cmd, kv)
  }

  def offline: Boolean = sys.env.get("OFFLINE").contains("1")

  def parsePairs(s: String): Seq[String] =
    s.split(",").map(_.trim.toUpperCase).filter(_.nonEmpty).toSeq

  /** Host list (BINANCE_HOSTS override), mirroring api.py:11-18. */
  def hosts: Seq[String] = sys.env.getOrElse("BINANCE_HOSTS",
    "https://api4.binance.com,https://api.binance.com,https://api1.binance.com," +
      "https://api2.binance.com,https://api3.binance.com")
    .split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Real HTTP transport (online mode); connector logic stays testable with
    * injected fakes. One shared client — paginated collection issues
    * hundreds of requests, and a per-request HttpClient would pay a fresh
    * connection pool + TLS handshake each time. */
  lazy val httpTransport: Rest.Transport = {
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10)).build()
    url => {
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofSeconds(20)).GET().build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() == 200) Right(resp.body()) else Left(resp.statusCode())
    }
  }

  /** price-ticks: n BTCUSDT prices, 2-dp rounded (main.py:19-28).
    * `off` is injectable so both paths are testable regardless of the
    * ambient OFFLINE environment. */
  def priceTicks(n: Int, delayMs: Long, transport: Rest.Transport,
                 hostList: Seq[String], off: Boolean = offline): Seq[Double] =
    if (off) Seq.fill(n)(100.0)
    else (0 until n).map { i =>
      val body = Rest.fetchWithFailover(hostList,
        "/api/v3/ticker/price?symbol=BTCUSDT", transport)
      if (delayMs > 0 && i < n - 1) Thread.sleep(delayMs)
      math.round(streaming.Ticker.parseTick(body)._2 * 100) / 100.0
    }

  /** collect-klines: paginated fetch per pair → CSV artifact named
    * `klines_<SYM>_<tf>.csv` (prices_collector.py:14-45). OFFLINE uses the
    * ≤10-bar constant fixture. */
  def collectKlines(spark: SparkSession, pairs: Seq[String], tf: String,
                    days: Int, outDir: String, transport: Rest.Transport,
                    hostList: Seq[String], nowMs: Long,
                    off: Boolean = offline): Seq[String] =
    pairs.map { sym =>
      val df =
        if (off) Synthetic.offlineKlines(spark, sym, tf, 10, nowMs / 1000)
        else {
          val fetchPage = (start: Long, end: Long, limit: Int) =>
            Rest.parseKlines(Rest.fetchWithFailover(hostList,
              s"/api/v3/klines?symbol=$sym&interval=$tf&startTime=$start" +
                s"&endTime=$end&limit=$limit", transport))
          Rest.klinesToDataFrame(spark, sym, tf, Rest.paginateKlines(
            fetchPage, nowMs - days.toLong * 86400000L, nowMs))
        }
      val path = s"$outDir/klines_${sym}_$tf.csv"
      Artifacts.writeCsv(df.select("symbol", "tf", "open_time", "open", "high",
        "low", "close", "volume", "num_trades"), path)
      path
    }

  /** collect-trades: recent trades per pair → `trades_<SYM>.csv`
    * (trades_collector.py:21-48). */
  def collectTrades(spark: SparkSession, pairs: Seq[String], outDir: String,
                    transport: Rest.Transport, hostList: Seq[String],
                    nowMs: Long, off: Boolean = offline): Seq[String] =
    pairs.map { sym =>
      val df =
        if (off)
          Synthetic.syntheticTrades(spark, sym, 100, nowMs / 1000)
            .withColumn("quote_qty", round(col("price") * col("qty"), 8))
            .withColumn("is_best_match", lit(true))
        else {
          import spark.implicits._
          Rest.parseTrades(Rest.fetchWithFailover(hostList,
              s"/api/v3/trades?symbol=$sym&limit=1000", transport)).toDF()
            .withColumn("symbol", lit(sym))
            .withColumn("trade_time", timestamp_millis(col("timeMs")))
            .withColumnRenamed("tradeId", "trade_id")
            .withColumnRenamed("quoteQty", "quote_qty")
            .withColumnRenamed("isBuyerMaker", "is_buyer_maker")
            .withColumnRenamed("isBestMatch", "is_best_match")
        }
      val path = s"$outDir/trades_$sym.csv"
      // NUMERIC(20,8) at the storage boundary (db/schema.sql:20-22): the
      // artifact serializes money columns with exact 8-dp decimals, so the
      // downstream warehouse load never re-derives them from binary doubles.
      val money = graft.sources.CsvReaders.MoneyType
      Artifacts.writeCsv(df
        .withColumn("price", col("price").cast(money))
        .withColumn("qty", col("qty").cast(money))
        .withColumn("quote_qty", col("quote_qty").cast(money))
        .select("symbol", "trade_id", "price", "qty",
          "quote_qty", "trade_time", "is_buyer_maker", "is_best_match"), path)
      path
    }

  /** collect-orderbooks: one depth snapshot per pair → `orderbook_<SYM>.csv`
    * (orderbook_collector.py:21-41). */
  def collectOrderbooks(spark: SparkSession, pairs: Seq[String], outDir: String,
                        transport: Rest.Transport, hostList: Seq[String],
                        nowMs: Long, off: Boolean = offline): Seq[String] =
    pairs.map { sym =>
      val df =
        if (off) Synthetic.syntheticDepth(spark, sym, 5, nowMs / 1000)
        else {
          import spark.implicits._
          Rest.parseDepth(Rest.fetchWithFailover(hostList,
              s"/api/v3/depth?symbol=$sym&limit=100", transport)).toDF()
            .withColumn("symbol", lit(sym))
            .withColumn("update_time", timestamp_millis(lit(nowMs)))
            .withColumnRenamed("updateId", "update_id")
        }
      val path = s"$outDir/orderbook_$sym.csv"
      // NUMERIC(20,8) at the storage boundary (db/schema.sql:31-32).
      val money = graft.sources.CsvReaders.MoneyType
      Artifacts.writeCsv(df
        .withColumn("price", col("price").cast(money))
        .withColumn("qty", col("qty").cast(money))
        .select("symbol", "price", "qty", "side",
          "update_id", "update_time"), path)
      path
    }

  /** Warehouse status — the dashboard's live status panel
    * (`src/dashboard/app.py:114-124`: `SELECT COUNT(*), MIN(open_time),
    * MAX(open_time) FROM candles`), re-expressed as one
    * [[operators.AggOps.tableStats]] pass over the warehouse table and
    * emitted as a single JSON line (the engine's artifact contract; the
    * Streamlit rendering is presentation layer). A missing/empty table
    * reports `available:false` instead of failing — the panel's
    * "недоступен" warning branch. */
  def status(spark: SparkSession, warehouseDir: String,
             table: String = "candles"): String = {
    // Per-table (timestamp, value) columns mirror the warehouse schema the
    // ETL dispatcher writes (db/schema.sql:6-32 families).
    val cols = Map(
      "candles" -> ("open_time", "volume"),
      "trades" -> ("trade_time", "qty"),
      "order_books" -> ("update_time", "qty"))
    val (tsCol, valCol) = cols.getOrElse(table, ("open_time", "volume"))
    operators.UpsertWriter.read(spark, s"$warehouseDir/$table") match {
      case Some(df) if df.columns.contains(tsCol) =>
        val r = operators.AggOps.tableStats(df, col(tsCol), col(valCol)).first()
        val n = r.getLong(r.fieldIndex("n"))
        if (n == 0L) s"""{"table":"$table","available":false,"n":0}"""
        else
          s"""{"table":"$table","available":true,"n":$n,""" +
            s""""min_ts":"${r.get(r.fieldIndex("min_ts"))}",""" +
            s""""max_ts":"${r.get(r.fieldIndex("max_ts"))}",""" +
            s""""sum_value":${r.get(r.fieldIndex("sum_value"))}}"""
      case _ => s"""{"table":"$table","available":false}"""
    }
  }

  private def usage(): Unit = println(
    """kp-crypto (Spark) — subcommands:
      |  price-ticks         --n 5 --delay 1.0
      |  collect-klines      --pairs BTCUSDT,ETHUSDT --tf 1m --days 1 --out data
      |  collect-trades      --pairs BTCUSDT,ETHUSDT --out data
      |  collect-orderbooks  --pairs BTCUSDT,ETHUSDT --out data
      |  etl                 --data data --warehouse warehouse
      |  status              --warehouse warehouse [--table candles]
      |  analyze             --in <csv-glob|parquet> --out artifacts [--focus SYM]
      |                      [--trades <csv|parquet>] [--book <csv|parquet>]
      |OFFLINE=1 swaps REST fetches for deterministic synthetic fixtures.""".stripMargin)

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    if (opts.cmd.isEmpty) { usage(); return }
    // price-ticks is pure connector code — no reason to pay Spark startup.
    if (opts.cmd.contains("price-ticks")) {
      val vals = priceTicks(opts.get("n", "5").toInt,
        (opts.get("delay", "1.0").toDouble * 1000).toLong, httpTransport, hosts)
      if (vals.isEmpty) println("""{"count":0}""")
      else println(s"""{"count":${vals.size},"min":${vals.min},"max":${vals.max}}""")
      return
    }
    val spark = GraftSession.create(defaultCpus = "8")
    val now = System.currentTimeMillis()
    val pairs = parsePairs(opts.get("pairs", "BTCUSDT,ETHUSDT"))
    val out = opts.get("out", "data")
    try opts.cmd.get match {
      case "collect-klines" =>
        collectKlines(spark, pairs, opts.get("tf", "1m"),
          opts.get("days", "1").toInt, out, httpTransport, hosts, now)
          .foreach(p => println(s"[collector] saved $p"))
      case "collect-trades" =>
        collectTrades(spark, pairs, out, httpTransport, hosts, now)
          .foreach(p => println(s"[collector] saved $p"))
      case "collect-orderbooks" =>
        collectOrderbooks(spark, pairs, out, httpTransport, hosts, now)
          .foreach(p => println(s"[collector] saved $p"))
      case "etl" =>
        EtlLoader.loadAll(spark, opts.get("data", "data"),
            opts.get("warehouse", "warehouse"))
          .foreach { case (f, t) => println(s"[etl] $f -> $t") }
      case "status" =>
        println(status(spark, opts.get("warehouse", "warehouse"),
          opts.get("table", "candles")))
      case "analyze" =>
        val in = opts.kv.getOrElse("in",
          sys.error("analyze requires --in <csv-glob|parquet>"))
        val candles =
          if (in.endsWith(".csv")) sources.CsvReaders.readKlinesCsv(spark, in)
          else spark.read.parquet(in)
        val trades = opts.kv.get("trades").map { p =>
          if (p.endsWith(".csv")) sources.CsvReaders.readTradesCsv(spark, p)
          else spark.read.parquet(p)
        }
        val book = opts.kv.get("book").map { p =>
          if (p.endsWith(".csv")) sources.CsvReaders.readOrderbookCsv(spark, p)
          else spark.read.parquet(p)
        }
        Analyze.run(spark, candles, opts.get("out", "artifacts"),
          opts.kv.get("focus"), trades, book)
      case other =>
        println(s"unknown subcommand: $other"); usage()
    } finally spark.stop()
  }
}
