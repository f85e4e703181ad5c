package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Spread — the tiny-input parallelism guard in front of md5-heavy per-row
  * operators. Load-bearing properties: (1) an input with fewer partitions
  * than the default parallelism gains exactly that many partitions,
  * row-identically; (2) an input already at/above parallelism is returned
  * UNTOUCHED (same plan, no exchange — the at-scale identity); (3)
  * streaming frames pass through. */
class SpreadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val par = spark.sparkContext.defaultParallelism

  test("under-split input spreads to default parallelism, rows unchanged") {
    val one = spark.range(0, 1000, 1, 1).select(col("id"))
    val out = Spread(one)
    assert(out.rdd.getNumPartitions == par)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == (0L until 1000L))
  }

  test("well-split input is returned untouched (identity at scale)") {
    val wide = spark.range(0, 1000, 1, par).toDF()
    val out = Spread(wide)
    assert(out.rdd.getNumPartitions == par)
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "Spread must not add an exchange to a well-split input")
  }

  test("streaming frames pass through untouched") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val df = mem.toDF()
    assert(Spread(df) eq df)
  }
}
