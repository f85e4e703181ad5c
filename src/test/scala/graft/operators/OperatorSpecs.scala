package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.functions.RobustZ

/** Hand-computed fixtures for the window/set/robust-z operators — the
  * fidelity traps from SURVEY §7.5 (min_periods gate, frame off-by-one,
  * degenerate MAD, upsert idempotency). */
class OperatorSpecs extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("rollingStd honors min_periods gate and frame size") {
    // 40 rows, window=10, minPeriods=5: rows 0-3 null, row 4+ populated.
    val df = (0 until 40).map(i => ("s", i, i.toDouble)).toDF("g", "i", "v")
    val out = WindowOps.rollingStd(df, Seq(col("g")), Seq(col("i")), col("v"),
        window = 10, minPeriods = 5, out = "rs")
      .orderBy("i").select("rs").as[Option[Double]].collect()
    assert(out.take(4).forall(_.isEmpty))
    assert(out.drop(4).forall(_.isDefined))
    // Row 4 sees rows 0..4 => stddev_samp(0..4) * sqrt(10).
    val expected = math.sqrt(2.5) * math.sqrt(10) // var of 0..4 = 2.5
    assert(math.abs(out(4).get - BigDecimal(expected).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // Row 20 sees rows 11..20 (exactly 10 rows, not 11) — frame off-by-one.
    val exp20 = {
      val xs = (11 to 20).map(_.toDouble)
      val m = xs.sum / xs.size
      math.sqrt(xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1)) * math.sqrt(10)
    }
    assert(math.abs(out(20).get - BigDecimal(exp20).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("lagDiff: first row per partition is null") {
    val df = Seq(("a", 1, 10.0), ("a", 2, 13.0), ("b", 1, 5.0))
      .toDF("g", "i", "v")
    val out = WindowOps.lagDiff(df, Seq(col("g")), Seq(col("i")), col("v"), "d")
      .orderBy("g", "i").select("d").as[Option[Double]].collect()
    assert(out.toSeq == Seq(None, Some(3.0), None))
  }

  test("robust z matches hand computation incl. degenerate MAD") {
    // median of (1,2,3,4,100) = 3; MAD = median(|x-3|) = median(2,1,0,1,97) = 1
    val df = Seq(1.0, 2.0, 3.0, 4.0, 100.0).toDF("v")
    val z = RobustZ.withRobustZ(df, "v", "z").orderBy("v").select("z").as[Double].collect()
    assert(math.abs(z(0) - 0.6745 * (1 - 3) / 1) < 1e-12)
    assert(math.abs(z(4) - 0.6745 * 97) < 1e-12)
    // Degenerate: constant column → MAD 0 → z = x - median = 0.
    val zc = RobustZ.withRobustZ(Seq(5.0, 5.0, 5.0).toDF("v"), "v", "z")
      .select("z").as[Double].collect()
    assert(zc.forall(_ == 0.0))
  }

  test("upsert is last-write-wins and idempotent") {
    val base = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val upd = Seq((2, "B"), (4, "D")).toDF("k", "v")
    val once = SetOps.upsert(base, upd, Seq("k"))
    val got = once.orderBy("k").as[(Int, String)].collect().toSeq
    assert(got == Seq((1, "a"), (2, "B"), (3, "c"), (4, "D")))
    // Re-applying the same updates changes nothing.
    val twice = SetOps.upsert(once, upd, Seq("k")).orderBy("k").as[(Int, String)].collect().toSeq
    assert(twice == got)
  }

  test("asofJoin picks latest right row at or before left ts") {
    val left = Seq((1L, "2024-01-01 00:05:00", 100L),
                   (1L, "2024-01-01 00:00:30", 101L),
                   (2L, "2024-01-01 00:01:00", 102L))
      .toDF("user_id", "ts_s", "event_id")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val right = Seq((1L, "2024-01-01 00:01:00", 10.0),
                    (1L, "2024-01-01 00:04:00", 40.0),
                    (2L, "2024-01-01 00:02:00", 99.0))
      .toDF("user_id", "ts_s", "pv")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val out = JoinOps.asofJoin(left, right, "user_id", "ts", Seq("pv"))
      .orderBy("event_id").select("asof_pv").as[Option[Double]].collect().toSeq
    // event 100 at 00:05 → latest pv at 00:04 = 40; event 101 at 00:00:30 → none;
    // event 102 at 00:01 (user 2) → right at 00:02 is in the future → none.
    assert(out == Seq(Some(40.0), None, None))
  }

  test("approxDistinctCounts tracks exact counts within the 3·rsd bound") {
    val df = (1 to 20000).map(i => (s"g${i % 4}", s"k${i % (500 + i % 4)}"))
      .toDF("g", "k")
    val approx = AggOps.approxDistinctCounts(df, Seq(col("g")), col("k"), rsd = 0.02)
      .orderBy("g").as[(String, Long, Long)].collect()
    val exact = df.groupBy("g").agg(count_distinct(col("k")).as("d"))
      .orderBy("g").as[(String, Long)].collect().toMap
    approx.foreach { case (g, est, _) =>
      val truth = exact(g).toDouble
      assert(math.abs(est - truth) / truth <= 3 * 0.02,
        s"group $g: estimate $est vs exact $truth exceeds 3·rsd")
    }
  }

  test("upsert writer round-trips and is idempotent on disk") {
    val dir = java.nio.file.Files.createTempDirectory("upsert").toString
    val base = Seq((1, 10.0), (2, 20.0)).toDF("k", "v")
    UpsertWriter.upsert(spark, base, dir, Seq("k"))
    UpsertWriter.upsert(spark, Seq((2, 99.0), (3, 30.0)).toDF("k", "v"), dir, Seq("k"))
    val got = UpsertWriter.read(spark, dir).get.orderBy("k").as[(Int, Double)].collect().toSeq
    assert(got == Seq((1, 10.0), (2, 99.0), (3, 30.0)))
    UpsertWriter.upsert(spark, Seq((2, 99.0), (3, 30.0)).toDF("k", "v"), dir, Seq("k"))
    val again = UpsertWriter.read(spark, dir).get.orderBy("k").as[(Int, Double)].collect().toSeq
    assert(again == got)
    // One bucket is the flat layout: CURRENT names one generation dir at
    // the table root; no META, no b=<n> bucket dirs.
    val root = java.nio.file.Paths.get(dir)
    val current = java.nio.file.Files.readString(root.resolve("CURRENT")).trim
    assert(current.matches("gen-\\d+-\\d+"), s"CURRENT is not one generation: $current")
    assert(java.nio.file.Files.isDirectory(root.resolve(current)))
    assert(!java.nio.file.Files.exists(root.resolve("META")))
    assert(!root.toFile.list().exists(_.startsWith("b=")))
  }

  test("concurrent upserts to one table cannot lose a generation") {
    // Two writers interleaving on the SAME table: without the writer lock,
    // both merge against the same base generation and the later pointer
    // flip silently drops the earlier writer's keys (lost update). Run
    // several rounds of simultaneous disjoint-key upserts from two threads
    // and require every key to survive.
    val dir = java.nio.file.Files.createTempDirectory("upsert-conc").toString
    val rounds = 4
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until rounds).foreach { r =>
      val gate = new java.util.concurrent.CountDownLatch(1)
      val threads = Seq("a", "b").map { side =>
        new Thread(() => {
          try {
            gate.await()
            val df = Seq((s"$side$r", r.toDouble)).toDF("k", "v")
            UpsertWriter.upsert(spark, df, dir, Seq("k"), retainMillis = 0L)
          } catch { case t: Throwable => errs.add(t) }
        })
      }
      threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    }
    assert(errs.isEmpty, s"writer threw: ${errs.peek()}")
    val keys = UpsertWriter.read(spark, dir).get
      .select("k").as[String].collect().toSet
    val want = (0 until rounds).flatMap(r => Seq(s"a$r", s"b$r")).toSet
    assert(keys == want, s"lost updates: missing ${want -- keys}")
  }

  test("concurrent upserts via a symlink alias serialize instead of throwing") {
    // Two same-JVM writers reaching one table via different lexical paths
    // (real dir vs symlink) must collapse to one monitor: with the monitor
    // keyed lexically, the second writer's FileChannel.lock() on the same
    // underlying LOCK file threw OverlappingFileLockException.
    val real = java.nio.file.Files.createTempDirectory("upsert-real")
    val link = java.nio.file.Files.createSymbolicLink(
      real.resolveSibling(real.getFileName.toString + "-alias"), real)
    try {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val gate = new java.util.concurrent.CountDownLatch(1)
      val threads = Seq(real.toString -> "r", link.toString -> "l").map {
        case (path, side) =>
          new Thread(() => {
            try {
              gate.await()
              val df = Seq((side, 1.0)).toDF("k", "v")
              UpsertWriter.upsert(spark, df, path, Seq("k"), retainMillis = 0L)
            } catch { case t: Throwable => errs.add(t) }
          })
      }
      threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
      assert(errs.isEmpty, s"aliased writer threw: ${errs.peek()}")
      val keys = UpsertWriter.read(spark, real.toString).get
        .select("k").as[String].collect().toSet
      assert(keys == Set("r", "l"), s"lost updates through the alias: $keys")
    } finally java.nio.file.Files.deleteIfExists(link)
  }

  test("importanceSample draws match the scala md5 reference, 0 and 1000 are total") {
    val df = (0L until 200L).map(i => (i, (i * 5) % 1001)).toDF("id", "w")
    def draw(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 1000
    }
    val want = (0L until 200L).filter(i => draw(i) < (i * 5) % 1001).toSet
    val got = WindowOps.importanceSample(df, col("id"), col("w"))
      .select("id").as[Long].collect().toSet
    assert(got == want)
    assert(WindowOps.importanceSample(df, col("id"), lit(0)).isEmpty)
    assert(WindowOps.importanceSample(df, col("id"), lit(1000)).count() == 200)
  }

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    val oldSnap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text")
    val newSnap = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("id", "text")
    val got = SetOps.snapshotDiff(oldSnap, newSnap, "id", Seq("text"))
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(got == Seq(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
    // Identical snapshots: everything unchanged; disjoint: no unchanged.
    assert(SetOps.snapshotDiff(oldSnap, oldSnap, "id", Seq("text"))
      .select("status").distinct().as[String].collect().toSeq == Seq("unchanged"))
    val disjoint = SetOps.snapshotDiff(oldSnap, newSnap.where(col("id") === 4), "id", Seq("text"))
      .as[(Long, String)].collect().toMap
    assert(disjoint == Map(1L -> "removed", 2L -> "removed",
      3L -> "removed", 4L -> "added"))
  }

  test("snapshotDiff compares multi-column content") {
    val o = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "t", "n")
    val n = Seq((1L, "a", 10L), (2L, "b", 21L)).toDF("id", "t", "n")
    val got = SetOps.snapshotDiff(o, n, "id", Seq("t", "n"))
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(got == Seq(1L -> "unchanged", 2L -> "changed"))
  }

  test("cohortRetention: hand-computed cohort × offset matrix") {
    // u1 first active 2024-01-01, returns +1d and +3d; u2 one-shot on
    // 01-01; u3 first active 01-02, returns +2d. Repeated same-day events
    // (u1 twice on 01-01) count once.
    val events = Seq(
      (1L, "2024-01-01 09:00:00"), (1L, "2024-01-01 17:30:00"),
      (1L, "2024-01-02 08:00:00"), (1L, "2024-01-04 23:59:59"),
      (2L, "2024-01-01 12:00:00"),
      (3L, "2024-01-02 00:00:00"), (3L, "2024-01-04 11:11:11")
    ).toDF("user_id", "raw").withColumn("ts", to_timestamp(col("raw")))
    val got = AggOps.cohortRetention(events, "user_id", "ts")
      .select(col("cohort_day").cast("string"), col("day_offset"),
        col("active_users"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("2024-01-01", 0L, 2L), ("2024-01-01", 1L, 1L), ("2024-01-01", 3L, 1L),
      ("2024-01-02", 0L, 1L), ("2024-01-02", 2L, 1L)))
  }
}
