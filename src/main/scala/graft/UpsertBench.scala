package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.UpsertWriter

/** End-to-end comparison of the two bucket-count regimes of the one keyed
  * upsert writer at bench scale — the reference's K4 contract
  * (overlapping-window re-ingest: each batch re-sends a trailing window of
  * already-stored rows plus new ones; storage must stay idempotent) driven
  * over the sf0.1 lineitem table.
  *
  * At `numBuckets = 1` [[UpsertWriter]] rewrites the WHOLE table every
  * batch (one generation flip); at `numBuckets = N` it rewrites only the
  * xxhash-buckets the batch touches. This main drives two tables, one per
  * count, through the same batch sequence — bulk re-ingest windows, then
  * trickle batches of one order each — times both, verifies the final
  * tables are content-identical (order-free xxhash fingerprint), and
  * replays the last window to confirm idempotency.
  *
  * Usage: tools/run.sh graft.UpsertBench [sfDir] [numBuckets] [batches]
  */
object UpsertBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val numBuckets = args.lift(1).map(_.toInt).getOrElse(32)
    val nBatches = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = GraftSession.create(defaultCpus = "32", logLevel = "ERROR")

    val keys = Seq("l_orderkey", "l_linenumber")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .withColumn("l_orderkey", col("l_orderkey").cast("long"))
      .withColumn("l_linenumber", col("l_linenumber").cast("long"))
    val maxKey = li.agg(max(col("l_orderkey"))).head().getLong(0)
    // Initial load = first 80% of the order-key domain; each batch then
    // re-sends a 5%-of-domain trailing window and appends 2.5% new — the
    // overlapping-window shape of the reference collector's re-ingest.
    val cut = (maxKey * 0.8).toLong
    val step = (maxKey * 0.025).toLong.max(1L)
    def window(i: Int): DataFrame = li.where(
      col("l_orderkey") > cut + (i - 2) * step && col("l_orderkey") <= cut + i * step)
    val initial = li.where(col("l_orderkey") <= cut)

    def fingerprint(df: DataFrame): (Long, Long) = {
      // bit_xor: order-free AND overflow-free (a sum of 600k random longs
      // trips ANSI arithmetic-overflow).
      val h = xxhash64(df.columns.sorted.map(c => col(c).cast("string")): _*)
      val r = df.agg(count(lit(1)), call_function("bit_xor", h)).head()
      (r.getLong(0), r.getLong(1))
    }

    def drive(name: String, apply: (DataFrame) => Unit,
              read: () => DataFrame): (Double, Double, (Long, Long)) = {
      val t0 = System.nanoTime()
      apply(initial)
      val tInit = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      (1 to nBatches).foreach(i => apply(window(i)))
      val tBatches = (System.nanoTime() - t1) / 1e9
      val fp = fingerprint(read())
      println(f"$name%-22s initial=$tInit%6.2fs  $nBatches incremental batches=$tBatches%7.2fs  (${tBatches / nBatches}%5.2f s/batch)  rows=${fp._1}")
      (tInit, tBatches, fp)
    }

    val flatDir = Files.createTempDirectory("graft-upsert-flat").toString
    val bucketDir = Files.createTempDirectory("graft-upsert-bucketed").toString
    def upsertFlat(b: DataFrame): Unit = UpsertWriter.upsert(spark, b, flatDir, keys)
    def upsertBucketed(b: DataFrame): Unit =
      UpsertWriter.upsert(spark, b, bucketDir, keys, numBuckets)
    val flat = drive("1 bucket", upsertFlat, () => UpsertWriter.read(spark, flatDir).get)
    val bucketed = drive(s"$numBuckets buckets", upsertBucketed,
      () => UpsertWriter.read(spark, bucketDir).get)

    require(flat._3 == bucketed._3,
      s"content diverged: 1 bucket=${flat._3} $numBuckets buckets=${bucketed._3}")
    // Idempotency: replaying the last batch must not change the content.
    upsertBucketed(window(nBatches))
    val replayed = fingerprint(UpsertWriter.read(spark, bucketDir).get)
    require(replayed == bucketed._3, s"bucketed replay not idempotent: $replayed vs ${bucketed._3}")
    println(f"content identical (rows=${flat._3._1}, fp=${flat._3._2}); bucketed replay idempotent")
    println(f"bulk-window regime: bucketed/flat per-batch ratio = ${bucketed._2 / flat._2}%.2f " +
      "(a 30k-key batch hash-touches every bucket: pruning cannot engage)")

    // Regime B — TRICKLE upserts, the streaming-sink shape buckets exist
    // for: each batch updates the lines of ONE order (one micro-batch of
    // bars, one late-correction replay). With k distinct keys over N
    // buckets, E[untouched] = N·(1−1/N)^k — pruning engages when k ≲ N/3,
    // so the trickle stays at a handful of keys per batch.
    val trickles = (1 to 10).map(i => li.where(col("l_orderkey") === i * 37L))
    def timeTrickles(apply: DataFrame => Unit): Double = {
      val t0 = System.nanoTime()
      trickles.foreach(apply)
      (System.nanoTime() - t0) / 1e9
    }
    val tFlat = timeTrickles(upsertFlat)
    val tBucket = timeTrickles(upsertBucketed)
    val fpF = fingerprint(UpsertWriter.read(spark, flatDir).get)
    val fpB = fingerprint(UpsertWriter.read(spark, bucketDir).get)
    require(fpF == fpB, s"trickle content diverged: $fpF vs $fpB")
    println(f"trickle regime (10 batches x ~dozen keys): 1 bucket=${tFlat / 10}%5.2f s/batch, " +
      f"$numBuckets buckets=${tBucket / 10}%5.2f s/batch -> ${tFlat / tBucket}%.2fx bucketed speedup; content identical")
    spark.stop()
  }
}
