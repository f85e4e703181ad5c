package graft.plans

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** MaxPairLong / MinPairLong — the flat two-long lexicographic extremum
  * aggregates replacing `max(struct(ord, pay))` / `min(struct(-p, id))` in
  * hot paths. Load-bearing properties: (1) bit-identical to the struct
  * spelling on every group, including tie groups and single-row groups;
  * (2) null legs are IGNORED and an all-null group evaluates to NULL
  * (struct-min semantics differ here — the callers tripwire nulls, the
  * contract is documented); (3) the aggregate plans as HashAggregate, not
  * the Sort+SortAggregate pair the struct spelling silently costs — the
  * reason the expression exists; (4) partial/merge correctness across a
  * real multi-partition exchange. */
class PairExtremumSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("max_pair_long equals max(struct) on random groups incl. ties") {
    // Deterministic pseudo-random (k, ord, pay) rows with forced ord ties.
    val df = spark.range(0, 2000, 1, 8).select(
      (col("id") % 37).as("k"),
      (xxhash64(col("id")) % 13).as("ord"),
      (xxhash64(col("id"), lit(1)) % 1000).as("pay"))
    val got = df.groupBy("k")
      .agg(Expressions.maxPairLong(col("ord"), col("pay")).as("b"))
      .select(col("k"), col("b.ord"), col("b.pay"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val want = df.groupBy("k")
      .agg(max(struct(col("ord"), col("pay"))).as("b"))
      .select(col("k"), col("b.ord"), col("b.pay"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == want)
  }

  test("min_pair_long equals min(struct) and matches the keeper ordering") {
    val df = Seq(
      ("g1", 3L, 10L), ("g1", 3L, 2L), ("g1", 5L, 1L), // min ord 3, tie -> pay 2
      ("g2", -4L, 7L), ("g2", -4L, 7L),                // exact duplicate rows
      ("g3", 0L, 0L)                                   // single row
    ).toDF("k", "ord", "pay")
    val got = df.groupBy("k")
      .agg(Expressions.minPairLong(col("ord"), col("pay")).as("b"))
      .select(col("k"), col("b.ord"), col("b.pay"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("g1" -> (3L, 2L), "g2" -> (-4L, 7L), "g3" -> (0L, 0L)))
  }

  test("null legs are ignored; all-null group evaluates to NULL") {
    val df = Seq(
      ("a", Some(1L), Some(5L)), ("a", Some(9L), None), ("a", None, Some(99L)),
      ("b", None, None)
    ).toDF("k", "ord", "pay")
    val got = df.groupBy("k")
      .agg(Expressions.maxPairLong(col("ord"), col("pay")).as("b"))
      .orderBy("k").collect()
    assert(got(0).getStruct(1).getLong(0) == 1L, "null-legged rows must not win")
    assert(got(1).isNullAt(1), "all-null group must be NULL")
  }

  test("plans as HashAggregate where max(struct) plans SortAggregate") {
    val df = spark.range(100).select((col("id") % 5).as("k"),
      col("id").as("ord"), (col("id") * 2).as("pay"))
    def aggNames(d: org.apache.spark.sql.DataFrame): Seq[String] = {
      d.collect() // finalize AQE
      collectWithSubqueries(d.queryExecution.executedPlan) {
        case p if p.nodeName.contains("Aggregate") => p.nodeName
      }
    }
    val fast = aggNames(df.groupBy("k")
      .agg(Expressions.maxPairLong(col("ord"), col("pay")).as("b")))
    assert(fast.nonEmpty && fast.forall(_ == "HashAggregate"), fast.toString)
    val slow = aggNames(df.groupBy("k")
      .agg(max(struct(col("ord"), col("pay"))).as("b")))
    assert(slow.exists(_ == "SortAggregate"),
      s"precondition drifted: struct max no longer sort-based ($slow) — " +
        "MaxPairLong may be obsolete")
  }

  test("partials merge correctly across a real 16-partition exchange") {
    val df = spark.range(0, 100000, 1, 16).select(
      (col("id") % 3).as("k"), (col("id") % 997).as("ord"), col("id").as("pay"))
    val got = df.groupBy("k")
      .agg(Expressions.maxPairLong(col("ord"), col("pay")).as("b"))
      .select(col("k"), col("b.ord"), col("b.pay"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // max ord is 996; the winning pay is the LARGEST id of this k with
    // id % 997 == 996: id = 997m + 996 and id % 3 == k.
    (0L to 2L).foreach { k =>
      val best = (0L until 100000L).filter(i => i % 3 == k && i % 997 == 996).max
      assert(got(k) == (996L, best), s"k=$k")
    }
  }
}
