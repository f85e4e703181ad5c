package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import graft.{Analyze, EtlLoader, Main}
import graft.operators.UpsertRouter
import graft.sources.{CsvReaders, Kafka}
import graft.streaming.Bars
import Harness._

/** `pipeline`: the product end to end, as one closed loop of ops over
  * seed-generated inputs — the initial load and an overlapping re-ingest
  * batch through `EtlLoader.loadAll`, `Analyze.run` over the warehouse
  * tables, `Main.status` per table, a trickle stream of Kafka-wire trades
  * through `Kafka.parseTrades` → `Bars.oneMinuteBars` →
  * `Bars.autoUpsertingWriter`, and a replay of the last batch. A batch loads
  * one file per op (`loadAll` over a directory holding that file, as it
  * would load the whole batch file by file) and the stream commits one
  * micro-batch per op, so a run has enough ops for a median and a tail. */
object Pipeline {
  val Tables = Seq("candles", "trades", "order_books")
  val Artifacts = Seq("metrics_summary", "daily_summary", "monthly_volume", "hourly_profile",
    "dow_profile", "heatmap_absret", "heatmap_volume", "anomalies_top",
    "vol_vs_volume_sample", "summary_correlation.json", "summary_overall.json",
    "summary_coverage.json", "summary_large_trades.json", "summary_orderbook.json")

  private def csvRows(dir: Path): Long =
    Files.list(dir).iterator().asScala.toSeq.map { f =>
      val s = Files.lines(f)
      try s.count() - 1 finally s.close()
    }.sum

  private def expected(spark: SparkSession, dir: String): Map[String, DataFrame] = Map(
    "candles" -> CsvReaders.readKlinesCsv(spark, s"$dir/klines_expected_1m.csv"),
    "trades" -> CsvReaders.readTradesCsv(spark, s"$dir/trades_expected.csv"),
    "order_books" -> CsvReaders.readOrderbookCsv(spark, s"$dir/orderbook_expected.csv"))

  /** Wire records of the streaming op: (micro-batch index, key, value). */
  private def wire(path: String): Seq[(Int, Array[Byte], Array[Byte])] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.map { l =>
      val a = l.split("\t", 3)
      (a(0).toInt, a(1).getBytes("UTF-8"), a(2).getBytes("UTF-8"))
    }

  /** The streaming op's query: wire records in through a MemoryStream,
    * bars out through the auto-routed upsert sink at a zero-interval
    * trigger. Its micro-batches run under the query's run id as job group. */
  private final class BarStream(spark: SparkSession, dir: String) {
    private implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    private val mem = MemoryStream[(Array[Byte], Array[Byte])]
    val query = Bars.autoUpsertingWriter(
      Bars.oneMinuteBars(Kafka.parseTrades(mem.toDF().toDF("key", "value"))),
      s"$dir/bars", s"$dir/ckpt", trigger = Trigger.ProcessingTime(0L)).start()

    /** Offers one micro-batch and waits until it is committed. */
    def offer(rs: Seq[(Int, Array[Byte], Array[Byte])]): Unit = {
      mem.addData(rs.map(r => (r._2, r._3)))
      query.processAllAvailable()
    }
  }

  private def analyze(spark: SparkSession, wh: String, out: String): Unit = {
    def read(t: String) = UpsertRouter.read(spark, s"$wh/$t")
    Analyze.run(spark, read("candles").get, out, None, read("trades"), read("order_books"))
  }

  def run(ctx: Ctx): SparkSession = {
    val in = Paths.get(ctx.inputs)
    val batches = Files.list(in).iterator().asScala.toSeq
      .filter(_.getFileName.toString.matches("batch\\d+"))
      .sortBy(_.getFileName.toString.stripPrefix("batch").toInt)
    require(batches.length >= 2, s"no batches under $in")
    val records = wire(s"${ctx.inputs}/stream.tsv")
    val progress = new ProgressLog
    val spark = setUp(ctx) { (s, i) =>
      EtlLoader.loadAll(s, s"${ctx.inputs}/warmup", s"${ctx.root}/setup$i/warehouse")
    }
    spark.streams.addListener(progress)
    val sc = spark.sparkContext
    val wh = s"${ctx.root}/warehouse"
    val art = s"${ctx.root}/artifacts"
    val exp = expected(spark, s"${ctx.inputs}/expected")
    def tableFps: Map[String, (Long, Long)] = Tables.map { t =>
      t -> fingerprint(UpsertRouter.read(spark, s"$wh/$t").get.select(exp(t).columns.map(col): _*))
    }.toMap

    var n = 0
    def op(kind: String, layer: String, extra: Map[String, Any] = Map.empty)(body: => Unit): Unit = {
      val id = s"$n:$kind"; n += 1
      sc.setJobGroup(id, id)
      val w0 = ctx.tracer.nowMs
      val s0 = System.nanoTime()
      val err = try { ctx.tracer.span("op", id)(ctx.tracer.span(layer, id)(body)); "" }
        catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      val ms = (System.nanoTime() - s0) / 1e6
      val w1 = ctx.tracer.nowMs
      sc.clearJobGroup()
      spark.catalog.clearCache()
      ctx.ops += Map("name" -> kind, "layer" -> layer, "ms" -> ms, "ok" -> err.isEmpty,
        "detail" -> err, "group" -> id, "window" -> Seq(w0, w1)) ++ extra
    }
    // One op per file, in loadAll's name order: each file is staged alone
    // in a directory of its own first (untimed).
    def load(kind: String, batch: Path): Unit =
      Files.list(batch).iterator().asScala.toSeq.sortBy(_.getFileName.toString).zipWithIndex.foreach {
        case (f, i) =>
          val dir = Paths.get(s"${ctx.root}/files/${batch.getFileName}-$kind/$i")
          Files.createDirectories(dir)
          Files.copy(f, dir.resolve(f.getFileName))
          val before = dirBytes(Paths.get(wh))
          var files = 0
          op(kind, "EtlLoader.loadAll", Map("rows" -> csvRows(dir), "csv_bytes" -> dirBytes(dir))) {
            files = EtlLoader.loadAll(spark, dir.toString, wh).count(_._2 != "skipped")
          }
          ctx.ops(ctx.ops.length - 1) ++= Map("files" -> files,
            "warehouse_bytes_added" -> (dirBytes(Paths.get(wh)) - before))
      }

    load("load.initial", batches.head)
    batches.tail.foreach(b => load("load.reingest", b))
    // Table state before Analyze; empty when a table is missing, which the
    // checks below then report.
    val settled = try tableFps catch { case _: Exception => Map.empty[String, (Long, Long)] }
    op("analyze", "Analyze.run")(analyze(spark, wh, art))
    val status = Tables.map { t =>
      var line = ""
      op(s"status.$t", "Main.status"){ line = Main.status(spark, wh, t) }
      t -> line
    }.toMap
    var stream: BarStream = null
    op("stream.start", "streaming.Bars") { stream = new BarStream(spark, s"${ctx.root}/stream") }
    records.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (_, rs) =>
      op("stream.batch", "streaming.Bars")(stream.offer(rs))
    }
    op("stream.stop", "streaming.Bars")(stream.query.stop())
    val streamGroup = Option(stream).map(_.query.runId.toString).getOrElse("")
    load("load.replay", batches.last)
    ctx.record("wall_s") = ctx.ops.map(_("ms").asInstanceOf[Double]).sum / 1e3

    // Checks: last-write-wins table state, replay idempotency, artifacts,
    // stream parity. A check that cannot run (say, a missing table) fails.
    val reports = try checks(ctx, spark, exp, settled, tableFps, status, art, records, progress)
      catch { case e: Throwable =>
        ctx.check("checks", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}"); Seq.empty }
    if (ctx.tracer.on) {
      layers(ctx, spark, batches.head, wh, streamGroup)
      streamLayers(ctx, reports)
    }
    spark
  }

  private def checks(ctx: Ctx, spark: SparkSession, exp: Map[String, DataFrame],
                     settled: Map[String, (Long, Long)], tableFps: => Map[String, (Long, Long)],
                     status: Map[String, String], art: String,
                     records: Seq[(Int, Array[Byte], Array[Byte])],
                     progress: ProgressLog): Seq[StreamingQueryProgress] = {
    val want = exp.map { case (t, df) => t -> fingerprint(df) }
    Tables.foreach { t =>
      ctx.check(s"table.$t", settled(t) == want(t), s"got ${settled(t)} want ${want(t)}")
    }
    val replayed = tableFps
    Tables.foreach(t => ctx.check(s"replay.$t", replayed(t) == settled(t),
      s"before ${settled(t)} after ${replayed(t)}"))
    Tables.foreach { t =>
      ctx.check(s"status.$t", status(t).contains("\"available\":true") &&
        status(t).contains(s"\"n\":${want(t)._1},"), status(t))
    }
    Artifacts.foreach { a =>
      val p = Paths.get(s"$art/$a")
      ctx.check(s"artifact.$a", dirBytes(p) > 0, p.toString)
    }
    val symbols = exp("candles").select("symbol").distinct().count()
    val metrics = spark.read.option("header", "true").csv(s"$art/metrics_summary").count()
    ctx.check("artifact.metrics_summary.rows", metrics == symbols, s"$metrics rows for $symbols symbols")
    val hours = spark.read.option("header", "true").csv(s"$art/hourly_profile").count()
    ctx.check("artifact.hourly_profile.rows", hours == 24, s"$hours rows")
    val large = Files.readString(Paths.get(s"$art/summary_large_trades.json"))
    val topRows = "\"ts\":".r.findAllMatchIn(large).length
    ctx.check("artifact.summary_large_trades.top_rows", topRows == 50, s"$topRows rows")
    // Streaming parity: the bar table equals the batch bars over every
    // record sent (late records included; all are inside the watermark).
    import spark.implicits._
    val wantBars = Bars.oneMinuteBars(Kafka.parseTrades(
      records.map(r => (r._2, r._3)).toDF("key", "value")))
    val gotBars = UpsertRouter.read(spark, s"${ctx.root}/stream/bars").get
      .select(wantBars.columns.map(col): _*)
    val (fw, fg) = (fingerprint(wantBars), fingerprint(gotBars))
    ctx.check("stream.bars.parity", fw == fg, s"stream $fg batch $fw")
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val reports = progress.all.filter(_.numInputRows > 0)
    ctx.check("stream.rows", reports.map(_.numInputRows).sum == records.length,
      s"${reports.map(_.numInputRows).sum} of ${records.length}")
    ctx.record("stream_batch_ms") = reports.map(_.durationMs.get("triggerExecution").toDouble)
    reports
  }

  /** Medians over the streaming op's micro-batch progress reports. */
  private def streamLayers(ctx: Ctx, reports: Seq[StreamingQueryProgress]): Unit = {
    def p50(f: StreamingQueryProgress => Double) = median(reports.map(f))
    def dur(k: String)(p: StreamingQueryProgress) =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def ms(ts: String) = java.time.Instant.parse(ts).toEpochMilli.toDouble
    val l = ctx.layer
    l("streaming.addBatch_ms_p50") = p50(dur("addBatch"))
    l("streaming.trigger_ms_p50") = p50(dur("triggerExecution"))
    l("streaming.planning_ms_p50") = p50(dur("queryPlanning"))
    l("streaming.walCommit_ms_p50") = p50(dur("walCommit"))
    l("streaming.rows_per_batch_p50") = p50(_.numInputRows.toDouble)
    l("streaming.state_rows") = p50(_.stateOperators.map(_.numRowsTotal).sum.toDouble)
    l("streaming.state_bytes") = p50(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
    l("streaming.watermark_lag_ms") = p50 { p =>
      val et = p.eventTime
      if (et.containsKey("max") && et.containsKey("watermark")) ms(et.get("max")) - ms(et.get("watermark"))
      else 0.0
    }
    l("streaming.batches") = reports.length.toDouble
  }

  private def layers(ctx: Ctx, spark: SparkSession, first: Path, wh: String,
                     streamGroup: String): Unit = {
    // Reader-only pass per file family over the initial batch (traced run only).
    Seq("klines" -> ((p: String) => CsvReaders.readKlinesCsv(spark, p)),
        "trades" -> ((p: String) => CsvReaders.readTradesCsv(spark, p)),
        "orderbook" -> ((p: String) => CsvReaders.readOrderbookCsv(spark, p))).foreach {
      case (fam, read) =>
        val a = ctx.tracer.nowMs
        ctx.tracer.span("CsvReaders.read", s"read.$fam")(fingerprint(read(s"$first/${fam}_*.csv")))
        ctx.layer("CsvReaders.read_s") = ctx.layer.getOrElse("CsvReaders.read_s", 0.0) +
          (ctx.tracer.nowMs - a) / 1e3
    }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val l = ctx.layer
    def add(k: String, v: Double): Unit = l(k) = l.getOrElse(k, 0.0) + v
    ctx.ops.foreach { op =>
      val group = op("group").asInstanceOf[String]
      val w = op("window").asInstanceOf[Seq[Double]]
      val ms = op("ms").asInstanceOf[Double]
      // A streaming query runs its micro-batches under its own job group,
      // across the stream's ops: each op takes the jobs started in it.
      val sum =
        if (op("layer") == "streaming.Bars")
          ctx.jobs.summary(g => g == group || g == streamGroup, (w(0), w(1)), startedInWindow = true)
        else ctx.jobs.summary(_ == group, (w(0), w(1)))
      execLayer(ctx, "", sum, ctx.plans.seconds((w(0), w(1))))
      op("layer") match {
        case "EtlLoader.loadAll" =>
          add("EtlLoader.loadAll_s", ms / 1e3)
          add("EtlLoader.files", op("files").asInstanceOf[Int].toDouble)
          add("upsert.csv_bytes", op("csv_bytes").asInstanceOf[Long].toDouble)
          add("upsert.warehouse_bytes_added", op("warehouse_bytes_added").asInstanceOf[Long].toDouble)
        case "Analyze.run" =>
          add("Analyze.run_s", ms / 1e3)
          add("Analyze.jobs", sum("jobs"))
          add("Analyze.tasks", sum("tasks"))
          add("Analyze.driver_gap_s", sum("wall_s") - sum("busy_s"))
        case "Main.status" =>
          add(s"Main.status_ms.${op("name").asInstanceOf[String].stripPrefix("status.")}", ms)
        case _ =>
      }
    }
    l("upsert.write_amp") = l("upsert.warehouse_bytes_added") / l("upsert.csv_bytes")
    // Live = the generation each table's CURRENT names; dead = every other
    // generation still on disk.
    Tables.foreach { t =>
      val dir = Paths.get(s"$wh/$t")
      val live = dirBytes(dir.resolve(Files.readString(dir.resolve("CURRENT")).trim))
      add("upsert.live_bytes", live.toDouble)
      add("upsert.dead_bytes", (dirBytes(dir) - live - Files.size(dir.resolve("CURRENT"))).toDouble)
    }
  }
}
