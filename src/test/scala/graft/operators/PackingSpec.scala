package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class PackingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def packed(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
    df.select("id", "bin", "bin_offset").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

  test("bucketed packing is bit-identical to the naive global window") {
    // Weights 0-99 including zeros (a zero-weight doc sits AT the running
    // total — bin of its first token is still well-defined).
    val df = (0L until 3000L).map(i => (i, (i * 2654435761L % 100).toInt))
      .toDF("id", "w")
    for (budget <- Seq(1L, 97L, 2048L, 10000000L)) {
      val fast = packed(Packing.packBins(df, col("w"), col("id"), budget))
      val slow = packed(NaiveRefs.packBinsNaive(df, col("w"), col("id"), budget))
      assert(fast == slow, s"budget=$budget")
    }
  }

  test("packing semantics: offsets reconstruct the md5-order running sum") {
    val df = (0L until 500L).map(i => (i, (i % 37).toInt + 1)).toDF("id", "w")
    val budget = 256L
    val out = Packing.packBins(df, col("w"), col("id"), budget)
      .select(col("id"), col("bin"), col("bin_offset"), col("w").cast("long"),
        md5(col("id").cast("string")).as("k"))
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._5)
    // bin*budget + offset must equal the running weight total before each
    // row in md5 order — the concat-and-chunk invariant.
    var run = 0L
    out.foreach { case (id, bin, off, w, _) =>
      assert(bin * budget + off == run, s"id=$id")
      assert(off >= 0 && off < budget)
      run += w
    }
    // bins are dense from 0 to total/budget.
    assert(out.map(_._2).min == 0L)
    assert(out.map(_._2).max == (run - out.last._4) / budget)
  }

  test("reserved column clash and non-positive budget are rejected") {
    val df = Seq((1L, 2, "x")).toDF("id", "w", "__k")
    intercept[IllegalArgumentException] {
      Packing.packBins(df, col("w"), col("id"), 10L)
    }
    intercept[IllegalArgumentException] {
      Packing.packBins(df.drop("__k"), col("w"), col("id"), 0L)
    }
  }
}
