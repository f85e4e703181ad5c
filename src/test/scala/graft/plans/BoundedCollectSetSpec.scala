package graft.plans

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** BoundedCollectSet — the size-capped distinct-set aggregate under
  * Dedup.boundedPairCounts. Load-bearing properties: (1) the result equals
  * collect_set + sort + [2,cap] band filter on every in-band key, (2) a
  * hot key NEVER materializes its full set (the buffer poisons at cap+1 —
  * asserted behaviorally: out-of-band keys are NULL regardless of how far
  * past the cap they run), (3) duplicates dedupe in-buffer, (4) ordering
  * matches array_sort for both long and string elements. */
class BoundedCollectSetSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def agg(df: org.apache.spark.sql.DataFrame, cap: Int) =
    df.groupBy(col("k"))
      .agg(Expressions.boundedCollectSet(col("v"), cap).as("ids"))

  test("equals collect_set + sort + df-band filter (long elements)") {
    // key k has k distinct values 0..k-1, each duplicated 3 times
    val rows = for (k <- 1 to 12; v <- 0 until k; _ <- 0 until 3)
      yield (k.toLong, v.toLong)
    val df = rows.toDF("k", "v")
    val got = agg(df, cap = 8)
      .collect().map(r => r.getLong(0) ->
        Option(r.getSeq[Long](1)).map(_.toSeq)).toMap
    (1 to 12).foreach { k =>
      val want = if (k >= 2 && k <= 8) Some((0L until k).toSeq) else None
      assert(got(k.toLong) == want, s"key $k")
    }
  }

  test("hot key far past the cap is NULL, not an unbounded set") {
    // one key with 100k distinct values under cap=5: with the old
    // collect_list formulation this buffered 100k elements; here the
    // buffer poisons at 6 and the group nulls out.
    val hot = spark.range(100000).select(lit(1L).as("k"), col("id").as("v"))
    val cold = Seq((2L, 10L), (2L, 11L)).toDF("k", "v")
    val got = agg(hot.unionByName(cold), cap = 5)
      .orderBy("k").collect()
    assert(got(0).isNullAt(1), "hot key must evaluate to NULL")
    assert(got(1).getSeq[Long](1) == Seq(10L, 11L))
  }

  test("string elements sort like array_sort and dedupe in-buffer") {
    val df = Seq(("k", "beta"), ("k", "alpha"), ("k", "beta"), ("k", "Zed"))
      .toDF("k", "v")
    val got = agg(df, cap = 10).collect()
    // UTF8String binary order: uppercase before lowercase
    assert(got(0).getSeq[String](1) == Seq("Zed", "alpha", "beta"))
  }

  test("survives a real exchange (partial sets merge across partitions)") {
    val df = spark.range(0, 1000, 1, 16)
      .select((col("id") % 7).as("k"), (col("id") % 4).as("v"))
    val got = agg(df, cap = 4).orderBy("k")
      .collect().map(_.getSeq[Long](1))
    assert(got.length == 7 && got.forall(_ == Seq(0L, 1L, 2L, 3L)))
    // and the cap binds across merges too
    val gotNull = agg(df, cap = 3).collect()
    assert(gotNull.forall(_.isNullAt(1)))
  }
}
