package graft.plans

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** DotProduct — the fused cosine inner loop. The load-bearing property is
  * BIT-identity with the aggregate(zip_with) composite it replaced: every
  * embedding oracle (q45-q47, q56, q63, q71, q82, q89) rests on the fold
  * order being unchanged. */
class DotProductSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val vecs = (0 until 50).map { i =>
    (i.toLong, (0 until 64).map(d => math.sin(i * 64 + d) * 3).toArray)
  }.toDF("id", "vec")

  test("bit-identical to the aggregate(zip_with) composite") {
    val composite = aggregate(zip_with(col("vec"), col("v2"), (x, y) => x * y),
      lit(0.0d), (acc, x) => acc + x)
    val paired = vecs.crossJoin(vecs.select(col("vec").as("v2"), col("id").as("id2")))
    val rows = paired.select(
        Expressions.dotProduct(col("vec"), col("v2")).as("fused"),
        composite.as("folded"))
      .collect()
    assert(rows.length == 2500)
    // exact equality — same doubles, not approximately-equal doubles
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("runs under CODEGEN_ONLY (real doGenCode, no fallback)") {
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val got = vecs.select(Expressions.dotProduct(col("vec"), col("vec")).as("sq"))
        .as[Double].collect()
      assert(got.length == 50 && got.forall(_ >= 0.0))
    } finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("length mismatch and null elements throw rather than silently null") {
    val bad = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
    val e1 = intercept[Exception] {
      bad.select(Expressions.dotProduct(col("a"), col("b"))).collect()
    }
    assert(e1.isInstanceOf[SparkException] || e1.isInstanceOf[IllegalArgumentException])

    val withNull = Seq((Seq(Some(1.0), None), Seq(Some(1.0), Some(2.0))))
      .toDF("a", "b")
    val e2 = intercept[Exception] {
      withNull.select(Expressions.dotProduct(col("a"), col("b"))).collect()
    }
    assert(e2.isInstanceOf[SparkException] || e2.isInstanceOf[IllegalArgumentException])
  }

  test("null input arrays null the result (standard binary-expression nulls)") {
    val df = Seq((Some(Seq(1.0, 2.0)), Option.empty[Seq[Double]]))
      .toDF("a", "b")
    val out = df.select(Expressions.dotProduct(col("a"), col("b"))).collect()
    assert(out.head.isNullAt(0))
  }
}
