package graft.streaming

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.{LargeScale, SparkTestSession}
import graft.operators.UpsertWriter
import graft.sources.Kafka

/** End-to-end streaming SOAK (opt-in, like LargeScaleSpec):
  *
  *   GRAFT_LARGE_SCALE=1 sbt "testOnly graft.streaming.SoakSpec"
  *
  * The per-operator streaming specs prove each stage in isolation; the
  * 100 TB claim is about the COMPOSED pipeline holding up over time. This
  * drives Kafka-wire-parse → watermarked 1-minute bars → bucketed upsert
  * sink, plus the windowed-CMS drift sketch on the same feed, for several
  * hundred micro-batches of advancing event time, and asserts:
  *
  *  1. sink correctness: the final bucketed table equals the BATCH bars of
  *     every trade ever sent (the foreachBatch upsert composes
  *     at-least-once updates into effectively-once table state);
  *  2. state boundedness: aggregation state after 3× more batches is no
  *     larger than the watermark-implied window count — state is evicted
  *     as event time advances, not accumulated per batch;
  *  3. sketch-side liveness: the CMS drift query keeps emitting closed
  *     windows and ITS state stays bounded too.
  */
class SoakSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val symbols = Seq("BTCUSDT", "ETHUSDT", "SOLUSDT")

  /** Wire-format trade record (key = symbol, value = exchange JSON). */
  private def wire(sym: String, id: Long, tMillis: Long, price: Double):
      (Array[Byte], Array[Byte]) = {
    val json = s"""{"id":$id,"price":"$price","qty":"0.5","quoteQty":"1.0",""" +
      s""""time":$tMillis,"isBuyerMaker":true,"isBestMatch":true}"""
    (sym.getBytes("UTF-8"), json.getBytes("UTF-8"))
  }

  test("composed pipeline soaks: bounded state, exact sink parity", LargeScale) {
    implicit val sqlCtx = spark.sqlContext
    val barsFeed = MemoryStream[(Array[Byte], Array[Byte])]
    val cmsFeed = MemoryStream[(Array[Byte], Array[Byte])]
    def parsed(m: MemoryStream[(Array[Byte], Array[Byte])]) =
      Kafka.parseTrades(m.toDF().toDF("key", "value"))

    val table = Files.createTempDirectory("soak-bars").toString
    val ckptA = Files.createTempDirectory("soak-ckpt-a").toString
    val ckptB = Files.createTempDirectory("soak-ckpt-b").toString
    val barsQ = Bars.autoUpsertingWriter(
      Bars.oneMinuteBars(parsed(barsFeed)), table, ckptA,
      numBuckets = 8, trigger = Trigger.ProcessingTime(0L)).start()
    val cms = StreamSketch.windowedCms(parsed(cmsFeed), "symbol", "trade_time",
      depth = 2, width = 64, windowDur = "1 minute", watermark = "2 minutes")
    val cmsOut = cms.writeStream.format("memory").queryName("soak_cms")
      .outputMode("append").option("checkpointLocation", ckptB)
      .trigger(Trigger.ProcessingTime(0L)).start()

    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val sent = scala.collection.mutable.ArrayBuffer[(Array[Byte], Array[Byte])]()
    var stateAt100 = -1L
    def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      Option(q.lastProgress).toSeq.flatMap(_.stateOperators.map(_.numRowsTotal))
        .sum

    val nBatches = 300
    try {
      (1 to nBatches).foreach { b =>
        // Event time advances 20 s per batch (~100 minutes overall); each
        // batch carries 2 trades per symbol, one of them 15 s late —
        // within watermark, so nothing is dropped, but the window BEHIND
        // the frontier keeps being updated the way real feeds do.
        val ts = t0 + b * 20000L
        val recs = symbols.zipWithIndex.flatMap { case (s, i) =>
          Seq(wire(s, b * 10L + i, ts, 100.0 + b % 7),
              wire(s, b * 10L + i + 5, ts - 15000L, 99.0 + b % 5))
        }
        sent ++= recs
        barsFeed.addData(recs)
        cmsFeed.addData(recs)
        barsQ.processAllAvailable()
        cmsOut.processAllAvailable()
        if (b == 100) stateAt100 = stateRows(barsQ)
      }
      val stateAt300 = stateRows(barsQ)
      // Watermark 2 min over 1-min windows: live state is the frontier
      // window + up to two not-yet-evicted ones per symbol. Generous ×2
      // slack, but the REAL assertion is no growth 100 → 300: a leak grows
      // linearly in batch count and would triple it.
      val bound = symbols.size * 6L
      assert(stateAt100 > 0 && stateAt100 <= bound, s"state@100=$stateAt100")
      assert(stateAt300 <= math.max(stateAt100 * 2, bound),
        s"state grew $stateAt100 -> $stateAt300 over 200 more batches: leak")

      // Sink parity: the bucketed table must equal batch bars over every
      // record ever sent (dedup by (symbol, trade id window) is not needed
      // — ids are unique by construction).
      val batchTrades = Kafka.parseTrades(
        sent.toSeq.toDF("key", "value"))
      val want = Bars.oneMinuteBars(batchTrades)
        .collect().map(_.toString).sorted
      val got = UpsertWriter.read(spark, table).get
        .collect().map(_.toString).sorted
      assert(got.length == want.length && got.sameElements(want),
        s"sink diverged from batch parity: ${got.length} vs ${want.length} bars")

      // Drift query emitted closed windows and its state is bounded too.
      val emitted = spark.table("soak_cms").count()
      assert(emitted > 0, "CMS drift query emitted nothing")
      val cmsState = stateRows(cmsOut)
      // ≤ (symbols hashed into ≤ depth×width cells) × few live windows.
      assert(cmsState <= 2 * 64 * 6,
        s"CMS state unbounded: $cmsState rows")
    } finally {
      barsQ.stop(); cmsOut.stop()
      spark.catalog.clearCache()
      try spark.sql("DROP TABLE IF EXISTS soak_cms") catch { case _: Exception => () }
    }
  }

  test("topic-dump replay: serialized wire records through the file edge", LargeScale) {
    // The MemoryStream soak hands parseTrades in-memory byte tuples; this
    // variant puts a real SERIALIZATION boundary in front of it — the
    // micro-batches are parquet "topic dump" segment files on disk (the
    // no-broker stand-in for a Kafka topic's log segments), replayed
    // through readStream's file source one segment per trigger, so the
    // wire records cross (serialize → file → deserialize) before the parse
    // layer sees them. Asserts exact sink parity with the batch recompute
    // over every record in the dump.
    val dumpDir = Files.createTempDirectory("soak-topicdump")
    val t0 = java.time.Instant.parse("2024-02-01T00:00:00Z").toEpochMilli
    val nSegments = 60
    val sent = scala.collection.mutable.ArrayBuffer[(Array[Byte], Array[Byte])]()
    (1 to nSegments).foreach { b =>
      val ts = t0 + b * 20000L
      val recs = symbols.zipWithIndex.flatMap { case (s, i) =>
        Seq(wire(s, b * 10L + i, ts, 100.0 + b % 7),
            wire(s, b * 10L + i + 5, ts - 15000L, 99.0 + b % 5))
      }
      sent ++= recs
      // One parquet file per segment, written atomically into the watched
      // dir (temp-write + move, the file-source contract).
      val tmp = Files.createTempDirectory("soak-seg")
      recs.toDF("key", "value").coalesce(1).write.parquet(tmp.resolve("w").toString)
      val part = Files.list(tmp.resolve("w")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dumpDir.resolve(f"segment-$b%05d.parquet"))
    }

    val table = Files.createTempDirectory("soak-dump-bars").toString
    val ckpt = Files.createTempDirectory("soak-dump-ckpt").toString
    val stream = spark.readStream
      .schema("key binary, value binary")
      .option("maxFilesPerTrigger", 1) // one dump segment = one micro-batch
      .parquet(dumpDir.toString)
    val q = Bars.autoUpsertingWriter(
      Bars.oneMinuteBars(Kafka.parseTrades(stream)), table, ckpt,
      numBuckets = 8, trigger = Trigger.ProcessingTime(0L)).start()
    try {
      q.processAllAvailable()
      val want = Bars.oneMinuteBars(
          Kafka.parseTrades(sent.toSeq.toDF("key", "value")))
        .collect().map(_.toString).sorted
      val got = UpsertWriter.read(spark, table).get
        .collect().map(_.toString).sorted
      assert(got.length == want.length && got.sameElements(want),
        s"topic-dump replay diverged from batch parity: ${got.length} vs ${want.length}")
    } finally {
      q.stop()
      spark.catalog.clearCache()
    }
  }

  test("kill mid-soak, restart from checkpoint: exactly-once sink parity", LargeScale) {
    // The K4 idempotency argument claims at-least-once replay composes
    // into effectively-once TABLE state across a crash; this makes it a
    // drill instead of an argument. A file-source stream is hard-stopped
    // mid-run at a nondeterministic batch boundary (wherever the poll
    // catches it), more segments land while it is down, and a NEW query
    // on the SAME checkpoint + table must (a) resume from the checkpoint
    // rather than from scratch and (b) converge the sink to exact batch
    // parity — any batch that committed its upsert but not its offset is
    // re-processed on restart and must re-upsert harmlessly.
    val dumpDir = Files.createTempDirectory("soak-restart-dump")
    val t0 = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli
    val sent = scala.collection.mutable.ArrayBuffer[(Array[Byte], Array[Byte])]()
    def writeSegments(from: Int, until: Int): Unit =
      (from until until).foreach { b =>
        val ts = t0 + b * 20000L
        val recs = symbols.zipWithIndex.flatMap { case (s, i) =>
          Seq(wire(s, b * 10L + i, ts, 100.0 + b % 7),
              wire(s, b * 10L + i + 5, ts - 15000L, 99.0 + b % 5))
        }
        sent ++= recs
        val tmp = Files.createTempDirectory("soak-rseg")
        recs.toDF("key", "value").coalesce(1).write.parquet(tmp.resolve("w").toString)
        val part = Files.list(tmp.resolve("w")).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(part, dumpDir.resolve(f"segment-$b%05d.parquet"))
      }

    val table = Files.createTempDirectory("soak-restart-bars").toString
    val ckpt = Files.createTempDirectory("soak-restart-ckpt").toString
    def startQuery() = Bars.autoUpsertingWriter(
      Bars.oneMinuteBars(Kafka.parseTrades(
        spark.readStream.schema("key binary, value binary")
          .option("maxFilesPerTrigger", 1)
          .parquet(dumpDir.toString))),
      table, ckpt, numBuckets = 8, trigger = Trigger.ProcessingTime(0L)).start()

    writeSegments(1, 41)
    val q1 = startQuery()
    // Let it commit SOME batches, then kill it wherever it happens to be —
    // a mid-soak crash, not a graceful drain (no processAllAvailable).
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (Option(q1.lastProgress).forall(_.batchId < 5) &&
           System.nanoTime() < deadline) Thread.sleep(50)
    val killedAt = Option(q1.lastProgress).map(_.batchId).getOrElse(-1L)
    q1.stop()
    assert(killedAt >= 5, s"query never reached batch 5 before the deadline")

    writeSegments(41, 61) // backlog accumulates while the stream is down
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      // Resumed, not restarted-from-scratch: the restart's batch ids
      // continue past the killed run's frontier.
      val resumedAt = Option(q2.lastProgress).map(_.batchId).getOrElse(-1L)
      assert(resumedAt > killedAt,
        s"restart did not resume from checkpoint: $resumedAt vs kill at $killedAt")
      val want = Bars.oneMinuteBars(
          Kafka.parseTrades(sent.toSeq.toDF("key", "value")))
        .collect().map(_.toString).sorted
      val got = UpsertWriter.read(spark, table).get
        .collect().map(_.toString).sorted
      assert(got.length == want.length && got.sameElements(want),
        s"restart diverged from batch parity: ${got.length} vs ${want.length} bars")
    } finally {
      q2.stop()
      spark.catalog.clearCache()
    }
  }

  test("near-dup alert stream soaks: bounded state, flagged-set parity vs batch replay",
      LargeScale) {
    // StreamNearDedup's per-operator spec proves the bucket transition at
    // toy scale; this soaks it over 300 micro-batches with a planted
    // near-dup burst and holds it to the BATCH simhash truth on the
    // replayed corpus: a doc is flagged iff some earlier doc within the
    // event-time horizon is within Hamming 3 — computed independently via
    // Dedup.simhashVerifiedEdgesFromHashes + a pairwise horizon filter.
    implicit val sqlCtx = spark.sqlContext
    val feed = MemoryStream[(Long, java.sql.Timestamp, String)]
    val horizonMs = 120000L // 6 batches of event time
    val alerts = StreamNearDedup.nearDupAlerts(
      feed.toDF().toDF("doc_id", "event_time", "text"),
      "doc_id", "text", "event_time", horizonMs,
      maxHamming = 3, blocks = 6, maxPerBucket = 512)
    val q = alerts.writeStream.format("memory").queryName("soak_neardup")
      .outputMode("append").trigger(Trigger.ProcessingTime(0L)).start()

    val t0 = java.time.Instant.parse("2024-06-01T00:00:00Z").toEpochMilli
    // Unique docs carry fully disjoint token sets (hashes ~32 bits apart);
    // burst batches 150-160 plant an EXACT copy of the previous batch's
    // first doc (in horizon — must alert); batch 250 plants a copy of
    // batch 200's first doc (1000 s back, beyond the 120 s horizon — must
    // NOT alert).
    def uniqueText(b: Int, i: Int): String =
      (0 until 20).map(j => s"t${b}_${i}_$j").mkString(" ")
    val sent = scala.collection.mutable.ArrayBuffer[(Long, java.sql.Timestamp, String)]()
    def stateRows(): Long =
      Option(q.lastProgress).toSeq.flatMap(_.stateOperators.map(_.numRowsTotal)).sum
    var stateAt100 = -1L
    val nBatches = 300
    try {
      (1 to nBatches).foreach { b =>
        val ts = new java.sql.Timestamp(t0 + b * 20000L)
        val base = (0 until 3).map(i => (b * 10L + i, ts, uniqueText(b, i)))
        val plant =
          if (b >= 150 && b <= 160) Seq((b * 10L + 3, ts, uniqueText(b - 1, 0)))
          else if (b == 250) Seq((b * 10L + 3, ts, uniqueText(200, 0)))
          else Seq.empty
        val recs = base ++ plant
        sent ++= recs
        feed.addData(recs)
        q.processAllAvailable()
        if (b == 100) stateAt100 = stateRows()
      }
      val stateAt300 = stateRows()
      // ~4 docs/batch × C(6,3)=20 combo buckets, ≤ ~2×horizon of batches
      // live (eviction + timeout lag). The REAL assertion is no growth
      // 100 → 300 — a leak grows linearly in batch count.
      assert(stateAt100 > 0 && stateAt100 <= 4000, s"state@100=$stateAt100")
      assert(stateAt300 <= math.max(stateAt100 * 2, 4000L),
        s"state grew $stateAt100 -> $stateAt300 over 200 more batches: leak")

      // Batch truth on the replayed corpus. Ids ascend with event time, so
      // the flagged doc of a pair is always id_b (the later arrival — the
      // same doc the stream alerts on).
      val docsDf = sent.toSeq.toDF("doc_id", "event_time", "text")
      val hashes = graft.dedup.Dedup.simhashHashes(docsDf, "doc_id", "text")
        .localCheckpoint()
      val times = docsDf.select(col("doc_id"), col("event_time").cast("long").as("t"))
      val truth = graft.dedup.Dedup.simhashVerifiedEdgesFromHashes(hashes, maxHamming = 3)
        .join(times.toDF("id_a", "ta"), "id_a")
        .join(times.toDF("id_b", "tb"), "id_b")
        .where(abs(col("tb") - col("ta")) <= horizonMs / 1000)
        .select(col("id_b")).as[Long].collect().toSet
      val flagged = spark.table("soak_neardup").select(col("id"))
        .distinct().as[Long].collect().toSet
      assert(flagged == truth,
        s"flagged-set parity broke: stream-only=${(flagged -- truth).take(5)} " +
          s"batch-only=${(truth -- flagged).take(5)}")
      // Non-vacuous: every in-horizon plant alerted; the beyond-horizon
      // plant did not.
      val plants = (150 to 160).map(b => b * 10L + 3).toSet
      assert(plants.subsetOf(flagged), s"missing plants: ${plants -- flagged}")
      assert(!flagged.contains(2503L), "beyond-horizon plant must not alert")
    } finally {
      q.stop()
      spark.catalog.clearCache()
      try spark.sql("DROP TABLE IF EXISTS soak_neardup") catch { case _: Exception => () }
    }
  }
}
