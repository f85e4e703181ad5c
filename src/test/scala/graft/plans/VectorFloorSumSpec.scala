package graft.plans

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** VectorFloorSum must be bit-identical to the per-dimension
  * sum(floor(element_at(v, i+1)·scale)) spelling it replaces in the Lloyd
  * refinement — including the null rules — while carrying ONE aggregate
  * expression instead of dim. */
class VectorFloorSumSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val scale = 16777216.0 // 2^24, the Ann.MeanScale quantum

  test("matches the per-dimension spelled-out aggregate exactly") {
    val rows = Seq(
      (0, Seq(0.1, -0.2, 3.0)),
      (0, Seq(0.7, 0.2, -1.5)),
      (1, Seq(-0.3, 0.0, 2.25)),
      (1, Seq(1e-8, -1e-8, 0.5)),
      (1, Seq(2.0, 3.0, -4.0)))
    val df = rows.toDF("cell", "v")
    val dim = 3
    val spelled = df.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        (0 until dim).map(i =>
          sum(floor(element_at(col("v"), i + 1) * scale)).as(s"s$i")): _*)
      .orderBy("cell")
      .collect()
      .map(r => (r.getInt(0), (2 to dim + 1).map(r.getLong).toSeq))
    val fused = df.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        Expressions.vectorFloorSum(col("v"), scale).as("s"))
      .orderBy("cell")
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Long](2)))
    assert(fused.toSeq == spelled.toSeq)
  }

  test("null vectors contribute nothing; all-null group evaluates to NULL") {
    val df = Seq(
      (0, Option(Seq(1.0, 2.0))), (0, Option.empty[Seq[Double]]),
      (1, Option.empty[Seq[Double]]))
      .toDF("cell", "v")
    val got = df.groupBy(col("cell"))
      .agg(Expressions.vectorFloorSum(col("v"), scale).as("s"))
      .orderBy("cell").collect()
    assert(got(0).getSeq[Long](1) ==
      Seq(math.floor(1.0 * scale).toLong, math.floor(2.0 * scale).toLong))
    assert(got(1).isNullAt(1))
  }

  test("null ELEMENTS skip their dimension (sum-over-nulls semantics)") {
    val df = Seq(
      (0, Seq(Option(1.0), Option.empty[Double])),
      (0, Seq(Option(2.0), Option(5.0))))
      .toDF("cell", "v")
    val got = df.groupBy(col("cell"))
      .agg(Expressions.vectorFloorSum(col("v"), scale).as("s"))
      .head().getSeq[Long](1)
    assert(got == Seq(math.floor(1.0 * scale).toLong + math.floor(2.0 * scale).toLong,
      math.floor(5.0 * scale).toLong))
  }

  test("survives a real exchange (map-side partials merge correctly)") {
    val df = (1 to 4000).map(i => (i % 3, Seq(i * 0.001, -i * 0.002)))
      .toDF("cell", "v")
      .repartition(8)
    val got = df.groupBy(col("cell"))
      .agg(Expressions.vectorFloorSum(col("v"), scale).as("s"))
      .orderBy("cell").collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1)))
    val want = (1 to 4000).groupBy(_ % 3).toSeq.sortBy(_._1).map { case (c, is) =>
      (c, Seq(is.map(i => math.floor(i * 0.001 * scale).toLong).sum,
        is.map(i => math.floor(-i * 0.002 * scale).toLong).sum))
    }
    assert(got.toSeq == want)
  }

  test("ragged vector lengths throw rather than mis-sum") {
    val df = Seq((0, Seq(1.0, 2.0)), (0, Seq(1.0, 2.0, 3.0))).toDF("cell", "v")
    val e = intercept[Exception] {
      df.groupBy(col("cell"))
        .agg(Expressions.vectorFloorSum(col("v"), scale)).collect()
    }
    assert(e.getMessage != null)
  }

  test("length-0 vectors throw regardless of arrival order (ADVICE-r13)") {
    // Empty-first would previously be silently ignored while empty-after-
    // sized threw ragged — the verdict on the same data depended on row
    // order. Both orders must now fail loudly.
    for (rows <- Seq(
        Seq((0, Seq.empty[Double]), (0, Seq(1.0, 2.0))),
        Seq((0, Seq(1.0, 2.0)), (0, Seq.empty[Double])))) {
      val e = intercept[Exception] {
        rows.toDF("cell", "v").coalesce(1).groupBy(col("cell"))
          .agg(Expressions.vectorFloorSum(col("v"), scale)).collect()
      }
      assert(e.getMessage != null)
    }
  }

  test("all-null DIMENSION yields 0, not NULL — the documented divergence") {
    // The spelled per-column sum would give NULL for dimension 2; the fused
    // aggregate has no per-dimension seen-flag and yields 0. Pinned so the
    // scaladoc's contract statement stays true.
    val df = Seq(
      (0, Seq(Option(1.0), Option.empty[Double])),
      (0, Seq(Option(2.0), Option.empty[Double])))
      .toDF("cell", "v")
    val got = df.groupBy(col("cell"))
      .agg(Expressions.vectorFloorSum(col("v"), scale).as("s"))
      .head().getSeq[Long](1)
    assert(got == Seq(math.floor(1.0 * scale).toLong + math.floor(2.0 * scale).toLong, 0L))
  }
}
