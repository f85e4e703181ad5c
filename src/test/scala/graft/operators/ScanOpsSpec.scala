package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** ScanOps — per-key and global EWMA scans vs a single-threaded reference
  * fold. The per-key path must be BIT-exact (it is the oracle currency);
  * the global segmented scan is allowed ~1e-12 relative drift from its
  * driver-side affine composition.
  */
class ScanOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Reference fold: y_0 = x_0; y_i = (1-a)*y_{i-1} + a*x_i. */
  private def refEwma(xs: Seq[Double], alpha: Double): Seq[Double] = {
    val c = 1.0 - alpha
    xs.scanLeft(Double.NaN) {
      case (y, x) if y.isNaN => x
      case (y, x)            => c * y + alpha * x
    }.drop(1)
  }

  /** Deterministic pseudo-series: keyed, shuffled insertion order. */
  private def mkRows(n: Int, keys: Int): Seq[(String, Long, Double)] =
    (0 until n).map { i =>
      val k = s"k${i % keys}"
      // reversed-ish order so the operator's sort is actually exercised
      (k, ((i * 7919) % n).toLong * 10 + (i % keys), math.sin(i) * 100 + i % 13)
    }

  test("ewmaPerKey is bit-exact vs the reference fold, per key") {
    val rows = mkRows(600, 5)
    val df = rows.toDF("k", "seq", "x")
    val got = ScanOps.ewmaPerKey(df, Seq("k"), Seq("seq"), col("x"), 0.3, "x", "ewma")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .groupBy(_._1)

    val want = rows.groupBy(_._1).map { case (k, rs) =>
      val sorted = rs.sortBy(_._2)
      k -> (sorted.map(_._2), refEwma(sorted.map(_._3), 0.3))
    }

    assert(got.keySet == want.keySet)
    for ((k, g) <- got) {
      val gs = g.sortBy(_._2)
      val (wantSeq, wantEwma) = want(k)
      assert(gs.map(_._2).toSeq == wantSeq, s"order mismatch for $k")
      // bit-exact: same sequential fold, same doubles
      assert(gs.map(_._4).toSeq == wantEwma, s"ewma mismatch for $k")
    }
  }

  test("ewmaPerKey handles a single-row series and preserves row count") {
    val df = Seq(("a", 1L, 5.0), ("b", 1L, 7.0), ("b", 2L, 9.0)).toDF("k", "seq", "x")
    val got = ScanOps.ewmaPerKey(df, Seq("k"), Seq("seq"), col("x"), 0.5, "x", "e")
      .orderBy("k", "seq").collect()
    assert(got.length == 3)
    assert(got(0).getDouble(3) == 5.0)          // y_0 = x_0
    assert(got(1).getDouble(3) == 7.0)
    assert(got(2).getDouble(3) == 0.5 * 7.0 + 0.5 * 9.0)
  }

  test("alpha is validated") {
    val df = Seq((1L, 1.0)).toDF("seq", "x")
    intercept[IllegalArgumentException] {
      ScanOps.ewmaPerKey(df, Seq("seq"), Seq("seq"), col("x"), 0.0, "x", "e")
    }
    intercept[IllegalArgumentException] {
      ScanOps.ewmaPerKey(df, Seq("seq"), Seq("seq"), col("x"), 1.5, "x", "e")
    }
  }
}
