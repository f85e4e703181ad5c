package graft.operators

import java.nio.file.{Files, Path}
import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[UpsertWriter]] above one bucket: only buckets containing updated
  * keys rewrite — every other bucket directory stays byte-identical — with
  * the same last-write-wins / idempotency semantics as one bucket, and the
  * bucket count stays a property of the table. */
class BucketedUpsertWriterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val N = 8

  /** (relative path → md5) for every regular file under dir — the
    * byte-identical fingerprint of a bucket directory. */
  private def fingerprint(dir: Path): Map[String, String] = {
    if (!Files.exists(dir)) return Map.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    import scala.jdk.CollectionConverters._
    Files.walk(dir).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map { p =>
        dir.relativize(p).toString ->
          md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
      }.toMap
  }

  private def bucketOf(k: Long): Int =
    Seq(k).toDF("k").select(UpsertWriter.bucketExpr(Seq("k"), N))
      .as[Int].head()

  test("upsert touching one bucket leaves the other N-1 byte-identical") {
    val dir = Files.createTempDirectory("bupsert")
    val base = (1L to 400L).map(k => (k, k * 10.0)).toDF("k", "v")
    UpsertWriter.upsert(spark, base, dir.toString, Seq("k"), N)
    val before = (0 until N).map(b => b -> fingerprint(dir.resolve(s"b=$b"))).toMap
    assert(before.values.forall(_.nonEmpty), "400 keys must populate all 8 buckets")

    val key = 42L
    val b42 = bucketOf(key)
    UpsertWriter.upsert(spark, Seq((key, -1.0)).toDF("k", "v"),
      dir.toString, Seq("k"), N, retainMillis = 0L)

    val after = (0 until N).map(b => b -> fingerprint(dir.resolve(s"b=$b"))).toMap
    (0 until N).filter(_ != b42).foreach { b =>
      assert(after(b) == before(b), s"untouched bucket $b changed on disk")
    }
    assert(after(b42) != before(b42), s"touched bucket $b42 did not rewrite")

    val got = UpsertWriter.read(spark, dir.toString).get
    assert(got.count() == 400)
    assert(got.where($"k" === key).select("v").as[Double].head() == -1.0)
    // every untouched key keeps its original value
    assert(got.where($"v" =!= $"k" * 10.0).count() == 1)
  }

  test("orphaned staging dirs from a crashed writer are swept on the next upsert") {
    val dir = Files.createTempDirectory("bupsert-staging")
    // Simulate a SIGKILLed writer: a partial staging dir with data files,
    // left at the table root where generation GC never looks.
    val orphan = dir.resolve(".staging-gen-123-456")
    Files.createDirectories(orphan.resolve("__bucket=3"))
    Files.writeString(orphan.resolve("__bucket=3").resolve("part-0.parquet"), "junk")
    val rows = Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
    UpsertWriter.upsert(spark, rows, dir.toString, Seq("k"), N)
    assert(!Files.exists(orphan), "crashed writer's staging dir not swept")
    // The sweep never touches live data: the upsert's own output reads back.
    val got = UpsertWriter.read(spark, dir.toString).get
      .as[(Long, Double)].collect().toSet
    assert(got == Set((1L, 1.0), (2L, 2.0)))
  }

  test("a caller-cached batch is not unpersisted by the upsert") {
    val dir = Files.createTempDirectory("bupsert-cached")
    val rows = Seq((1L, 1.0)).toDF("k", "v")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      UpsertWriter.upsert(spark, rows, dir.toString, Seq("k"), N)
      assert(rows.storageLevel ==
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
        "upsert dropped the caller's cache")
    } finally rows.unpersist()
  }

  test("round-trips, is idempotent, and last-write-wins per key") {
    val dir = Files.createTempDirectory("bupsert-idem").toString
    UpsertWriter.upsert(spark,
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), dir, Seq("k"), N)
    UpsertWriter.upsert(spark,
      Seq((2L, 99.0), (3L, 30.0)).toDF("k", "v"), dir, Seq("k"), N)
    val got = UpsertWriter.read(spark, dir).get
      .orderBy("k").as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)))
    UpsertWriter.upsert(spark,
      Seq((2L, 99.0), (3L, 30.0)).toDF("k", "v"), dir, Seq("k"), N)
    val again = UpsertWriter.read(spark, dir).get
      .orderBy("k").as[(Long, Double)].collect().toSeq
    assert(again == got)
  }

  test("bucket-count drift is rejected — a different N would scatter keys") {
    val dir = Files.createTempDirectory("bupsert-meta").toString
    UpsertWriter.upsert(spark, Seq((1L, 1.0)).toDF("k", "v"), dir, Seq("k"), 8)
    intercept[IllegalArgumentException] {
      UpsertWriter.upsert(spark, Seq((2L, 2.0)).toDF("k", "v"), dir, Seq("k"), 16)
    }
    intercept[IllegalArgumentException] {
      UpsertWriter.upsert(spark, Seq((2L, 2.0)).toDF("k", "v"), dir, Seq("k"))
    }
    intercept[IllegalArgumentException] {
      UpsertWriter.upsert(spark,
        Seq((2L, 2.0)).toDF("other", "v"), dir, Seq("other"), 8)
    }
    assert(UpsertWriter.read(spark, dir).get.as[(Long, Double)].collect().toSeq ==
      Seq((1L, 1.0)))

    // A bucketed upsert into an existing one-bucket table fails before it
    // writes anything: no META, the flat CURRENT intact, the table still
    // readable by the reader and by `status`.
    val wh = Files.createTempDirectory("bupsert-flat-wh")
    val flat = wh.resolve("candles")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = Seq(("AAA", t0, 5.0)).toDF("symbol", "open_time", "volume")
    val keys = Seq("symbol", "open_time")
    UpsertWriter.upsert(spark, rows, flat.toString, keys)
    val current = Files.readString(flat.resolve("CURRENT"))
    intercept[IllegalArgumentException] {
      UpsertWriter.upsert(spark, rows.withColumn("volume", lit(7.0)),
        flat.toString, keys, 32)
    }
    assert(!Files.exists(flat.resolve("META")))
    assert(Files.readString(flat.resolve("CURRENT")) == current)
    assert(UpsertWriter.read(spark, flat.toString).get.select("volume")
      .as[Double].collect().toSeq == Seq(5.0))
    assert(graft.Main.status(spark, wh.toString, "candles")
      .contains("\"available\":true"))
  }

  test("identical results at numBuckets 1 and 8") {
    val got = Seq(1, N).map { n =>
      val d = Files.createTempDirectory(s"bupsert-sem-$n").toString
      val b1 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      val b2 = Seq((2L, "B"), (3L, "c")).toDF("k", "v")
      UpsertWriter.upsert(spark, b1, d, Seq("k"), n)
      UpsertWriter.upsert(spark, b2, d, Seq("k"), n)
      UpsertWriter.upsert(spark, b2, d, Seq("k"), n) // replay: idempotent
      n -> UpsertWriter.read(spark, d).get
        .orderBy("k").as[(Long, String)].collect().toSeq
    }
    val want = Seq((1L, "a"), (2L, "B"), (3L, "c"))
    got.foreach { case (n, rows) => assert(rows == want, s"numBuckets=$n diverged") }
  }

  test("key-dtype drift is rejected — xxhash64 bucketing is type-dependent") {
    val dir = Files.createTempDirectory("bupsert-dtype").toString
    UpsertWriter.upsert(spark, Seq((1L, 1.0)).toDF("k", "v"), dir, Seq("k"), N)
    // Same key VALUE, Int instead of Long: xxhash64(Int 2) != xxhash64(Long 2),
    // so this batch would stage rows under buckets outside the touched set.
    val ex = intercept[IllegalArgumentException] {
      UpsertWriter.upsert(spark, Seq((2, 2.0)).toDF("k", "v"), dir, Seq("k"), N)
    }
    assert(ex.getMessage.contains("key dtypes"))
    // A matching batch still works, and no rows were lost to the rejection.
    UpsertWriter.upsert(spark, Seq((2L, 2.0)).toDF("k", "v"), dir, Seq("k"), N)
    val got = UpsertWriter.read(spark, dir).get
      .orderBy("k").as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 1.0), (2L, 2.0)))
  }

  test("pre-dtype-pin META upgrades in place on the next matching upsert") {
    val dir = Files.createTempDirectory("bupsert-meta-upgrade")
    UpsertWriter.upsert(spark, Seq((1L, 1.0)).toDF("k", "v"),
      dir.toString, Seq("k"), N)
    // Rewrite META in the legacy (numBuckets, keys)-only format.
    Files.writeString(dir.resolve("META"), s"numBuckets=$N\nkeys=k")
    UpsertWriter.upsert(spark, Seq((2L, 2.0)).toDF("k", "v"),
      dir.toString, Seq("k"), N)
    assert(Files.readString(dir.resolve("META")).contains("keyTypes=bigint"))
    // ...after which drift is enforced against the adopted dtypes.
    intercept[IllegalArgumentException] {
      UpsertWriter.upsert(spark, Seq((3, 3.0)).toDF("k", "v"),
        dir.toString, Seq("k"), N)
    }
  }

  test("superseded generations GC per bucket; CURRENT snapshot stays consistent") {
    val dir = Files.createTempDirectory("bupsert-gc")
    val key = 7L
    val b = bucketOf(key)
    UpsertWriter.upsert(spark, Seq((key, 1.0)).toDF("k", "v"),
      dir.toString, Seq("k"), N, retainMillis = 0L)
    UpsertWriter.upsert(spark, Seq((key, 2.0)).toDF("k", "v"),
      dir.toString, Seq("k"), N, retainMillis = 0L)
    UpsertWriter.upsert(spark, Seq((key, 3.0)).toDF("k", "v"),
      dir.toString, Seq("k"), N, retainMillis = 0L)
    import scala.jdk.CollectionConverters._
    val gens = Files.list(dir.resolve(s"b=$b")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("gen-")).toSeq
    // retain=0 keeps only the just-written and just-replaced generations
    assert(gens.size <= 2, s"GC leaked generations: $gens")
    val got = UpsertWriter.read(spark, dir.toString).get
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((key, 3.0)))
  }
}
